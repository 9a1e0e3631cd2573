"""The two closed-loop workloads. One client, one process; every cycle
does the same work. Each workload records its outputs while it runs and
checks them in DuckDB afterwards (``check``), outside the timed region.

``memo_rebuild``  clear the memo, build the k-NN graph's memo family
                  cold, then call it ``MEMO_REPEATS`` more times warm.
``etl_cdc``       the medallion pipeline through IsolatedStorage with a
                  lineage logger, a CDC feed drained into silver orders by
                  foreach_batch_merge, then reads of the outputs.
"""

from __future__ import annotations

import shutil
from collections import defaultdict
from pathlib import Path

import pyarrow.parquet as pq

from perfbench import check
from perfbench.trace import plan_seconds

MEMO_FAMILIES = ("simsearch_knn_graph",)
MEMO_REPEATS = 3


class Context:
    """What a workload needs: the session, the lake, a scratch directory,
    and (in a traced run) the tracer and the engine counters."""

    def __init__(self, spark, lake: Path, run_dir: Path, tracer=None, engine=None):
        self.spark, self.lake, self.run_dir = spark, lake, run_dir
        self.tracer, self.engine = tracer, engine
        self.layer = defaultdict(float)  # per-cycle counters set by workloads
        self._group = 0

    @property
    def tracing(self) -> bool:
        return self.tracer is not None and self.tracer.enabled

    def collect_query(self, name: str) -> list:
        """Build one registered query and collect it; in a traced run also
        split the action into job time and transfer, and read its plan
        time and job counters."""
        from jorvik_spark.queries import QUERIES

        fn = QUERIES[name]
        if not self.tracing:
            return fn(self.spark, str(self.lake)).collect()
        sc = self.spark.sparkContext
        self._group += 1
        # Jobs the build starts (memo materializations) stay out of the
        # action's group, so exec_s and the job counters are the action's.
        sc.setJobGroup(f"perfbench-build-{self._group}", name)
        df = self.tracer.call("queries.build", fn, self.spark, str(self.lake))
        group = f"perfbench-action-{self._group}"
        sc.setJobGroup(group, name)
        span = self.tracer.begin("queries.action")
        rows = df.collect()
        action_s = self.tracer.end(span)
        sc.setJobGroup("perfbench-idle", "")
        jobs = self.engine.jobs(group)
        d = self.layer
        d["queries.plan_s"] += plan_seconds(df)
        d["queries.exec_s"] += jobs["busy_s"]
        d["queries.transfer_s"] += max(0.0, action_s - jobs["busy_s"])
        d["queries.jobs"] += jobs["jobs"]
        d["queries.shuffle_write_bytes"] += jobs["shuffle_write_bytes"]
        d["queries.spill_bytes"] += jobs["spill_bytes"]
        d["queries.rows_out"] += len(rows)
        return rows


class QueryLoop:
    """A query workload: run ``ops`` each cycle, keep every result, and
    check them against the registry's DuckDB oracles."""

    name = ""
    ops: tuple = ()

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.results = defaultdict(list)  # query → [(columns, rows)] per call

    def prepare(self) -> None:
        pass

    def cycle(self) -> None:
        for q in self.ops:
            self._run(q)

    def _run(self, q: str) -> None:
        rows = self.ctx.collect_query(q)
        cols = list(rows[0].__fields__) if rows else None
        self.results[q].append((cols, rows))

    def check(self) -> tuple[int, list[str]]:
        """Return (operations attempted, failures). The first result of
        each query is compared with its oracle; every later one with the
        first."""
        from jorvik_spark.queries import ORACLES

        con = check.connect(self.ctx.lake)
        attempted, failures = 0, []
        for q, calls in self.results.items():
            attempted += len(calls)
            cols0, rows0 = calls[0]
            want = check.sql(con, ORACLES[q])
            first = check.normalize(cols0 or list(want[0]), rows0)
            why = check.diff(first, want)
            if why:
                failures += [f"{q}: oracle: {why}"] * len(calls)
                continue
            for i, (cols, rows) in enumerate(calls[1:], 1):
                why = check.diff(check.normalize(cols or list(want[0]), rows), first)
                if why:
                    failures.append(f"{q} call {i}: {why}")
        con.close()
        return attempted, failures


class MemoRebuild(QueryLoop):
    name = "memo_rebuild"
    ops = MEMO_FAMILIES

    def cycle(self) -> None:
        from jorvik_spark.queries.registry import clear_memos

        clear_memos()
        for _ in range(1 + MEMO_REPEATS):
            super().cycle()
        if self.ctx.tracing:
            self.ctx.layer["memo.cached_bytes"] = self.ctx.engine.cached_bytes()


ISO_CONTEXT = "perfbench"
FEED_COLUMNS = (
    "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, "
    "o_orderdate timestamp, o_orderpriority string, op string, seq long"
)
CDC_TARGET = "silver/orders_cdc"


class EtlCdc:
    """Medallion pipeline + CDC drain + reads, through IsolatedStorage."""

    name = "etl_cdc"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.mount = ctx.run_dir / "mnt"
        self.lake_root = f"{self.mount}/lake"
        self.iso_root = self.mount / "jorvik_isolation" / ISO_CONTEXT
        self.cycles = 0
        self.reads = defaultdict(list)
        self.bad_streams: list[str] = []

    def prepare(self) -> None:
        conf = self.ctx.spark.conf
        conf.set("io.jorvik.storage.mount_point", str(self.mount))
        conf.set("io.jorvik.storage.isolation_provider", "SPARK_CONFIG")
        conf.set("io.jorvik.storage.isolation_context", ISO_CONTEXT)
        conf.set("io.jorvik.data_lineage.log_path", f"{self.mount}/lineage_log")
        (self.mount / "jorvik_isolation").mkdir(parents=True)
        # The serving table exists before the first cycle, as it does for
        # any scheduled run after the first: every cycle, the cold one too,
        # MERGEs into it rather than creating it.
        from examples.medallion import schemas

        gold = self.ctx.spark.createDataFrame([], schemas.customer_summary.schema)
        gold.write.parquet(str(self.iso_root / "lake" / schemas.customer_summary.table))

    def cycle(self) -> None:
        from examples.medallion.pipeline import run_pipeline
        from jorvik_spark import storage
        from jorvik_spark.streaming.sinks import foreach_batch_merge

        tr = self.ctx.tracer if self.ctx.tracing else None
        files_before = self._data_files() if tr else None
        lineage_before = self._lineage_rows() if tr else 0
        run_pipeline(str(self.ctx.lake), self.lake_root)

        st = storage.configure()
        target = f"{self.lake_root}/{CDC_TARGET}"
        shutil.rmtree(self.iso_root / "lake" / CDC_TARGET, ignore_errors=True)
        ckpt = self.ctx.run_dir / f"cdc-checkpoint-{self.cycles}"
        span = tr.begin("streaming.drain") if tr else None
        feed = st.readStream(
            f"{self.ctx.lake}/cdc", schema=FEED_COLUMNS, options={"maxFilesPerTrigger": 1}
        )
        query = foreach_batch_merge(
            feed, st, target, "full.o_orderkey = incremental.o_orderkey", str(ckpt),
            insert_condition="incremental.op != 'D'",
            delete_condition="incremental.op = 'D'",
            dedup_keys=["o_orderkey"], dedup_order_col="seq",
        )
        query.awaitTermination()
        if tr:
            tr.end(span)
        if query.exception() is not None:
            self.bad_streams.append(str(query.exception()))
        progress = [p for p in query.recentProgress if p.get("numInputRows", 0) > 0]
        shutil.rmtree(ckpt, ignore_errors=True)

        gold = st.read(f"{self.lake_root}/gold/customer_summary")
        self._keep("gold_top", gold.orderBy(gold.total_spent.desc(), gold.customer_id).limit(20))
        cdc = st.read(target)
        self._keep("cdc_by_status", cdc.groupBy("o_orderstatus", "op").count())
        self.cycles += 1

        if tr:
            d = self.ctx.layer
            # Change rows fed to the merges: every feed batch after the
            # snapshot (numInputRows counts each re-scan of a batch).
            merged_in = sum(
                pq.ParquetFile(f).metadata.num_rows
                for f in sorted(Path(self.ctx.lake, "cdc").glob("*.parquet"))[1:]
            )
            written = sum(rows for _, path, rows in tr.events if path.endswith(CDC_TARGET))
            d["storage.merge_write_amp"] = written / merged_in if merged_in else 0.0
            d["lineage.rows"] = self._lineage_rows() - lineage_before
            d["streaming.batches"] = len(progress)
            d["streaming.batch_s"] = sum(
                p["durationMs"]["triggerExecution"] for p in progress
            ) / 1000.0 / max(1, len(progress))
            d["storage.files_written"] = len(self._data_files() - files_before)

    def _keep(self, name: str, df) -> None:
        rows = df.collect()
        self.reads[name].append((list(df.columns), rows))

    def _lineage_rows(self) -> int:
        log = self.iso_root / "lineage_log"
        return sum(pq.ParquetFile(p).metadata.num_rows for p in log.glob("*.parquet"))

    def _data_files(self) -> set:
        return {
            (str(p), p.stat().st_mtime_ns)
            for p in self.mount.rglob("*.parquet")
            if p.is_file()
        }

    # -- correctness --------------------------------------------------------

    def check(self) -> tuple[int, list[str]]:
        from perfbench.lake import CDC_BATCHES

        con = check.connect(self.ctx.lake)
        iso = self.iso_root / "lake"
        failures = list(self.bad_streams)
        # Serving reads, every cycle, against SQL over the same outputs'
        # definitions re-implemented from the lake.
        con.execute(f"""
            CREATE TABLE clean AS
            SELECT o_orderkey, o_custkey, o_totalprice,
                   date_trunc('day', o_orderdate) AS order_date,
                   CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER) AS order_month,
                   CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'Y' ELSE 'N' END AS is_urgent
            FROM orders WHERE o_totalprice > 0""")
        con.execute("""
            CREATE TABLE gold AS
            SELECT s.o_custkey AS customer_id, c.c_name AS customer_name,
                   CASE WHEN s.total_spent >= 1000000 THEN 'High Value'
                        WHEN s.total_spent >= 300000 THEN 'Medium Value'
                        ELSE 'Low Value' END AS customer_segment,
                   s.total_orders, s.total_spent, s.avg_order_value,
                   s.first_order_date, s.last_order_date
            FROM (SELECT o_custkey, COUNT(o_orderkey) AS total_orders,
                         SUM(o_totalprice) AS total_spent, AVG(o_totalprice) AS avg_order_value,
                         MIN(order_date) AS first_order_date, MAX(order_date) AS last_order_date
                  FROM clean GROUP BY o_custkey) s
            LEFT JOIN customer c ON s.o_custkey = c.c_custkey""")
        feed = f"{self.ctx.lake}/cdc"
        con.execute(f"""CREATE TABLE cdc AS
            SELECT * FROM read_parquet('{feed}/batch-00000.parquet') WHERE op != 'D'""")
        for b in range(1, CDC_BATCHES + 1):
            con.execute(f"""CREATE OR REPLACE TEMP TABLE latest AS
                SELECT * EXCLUDE rn FROM (
                    SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
                    FROM read_parquet('{feed}/batch-{b:05d}.parquet')) WHERE rn = 1""")
            con.execute("DELETE FROM cdc WHERE o_orderkey IN (SELECT o_orderkey FROM latest)")
            con.execute("INSERT INTO cdc SELECT * FROM latest WHERE op != 'D'")
        want = {
            "gold_top": check.sql(con, "SELECT * FROM gold ORDER BY total_spent DESC, customer_id LIMIT 20"),
            "cdc_by_status": check.sql(con, "SELECT o_orderstatus, op, COUNT(*) AS count FROM cdc GROUP BY ALL"),
        }
        attempted = self.cycles  # one CDC drain per cycle
        for name, calls in self.reads.items():
            for i, (cols, rows) in enumerate(calls):
                attempted += 1
                why = check.diff(check.normalize(cols, rows), want[name])
                if why:
                    failures.append(f"{name} cycle {i}: {why}")
        # The final tables, whole.
        tables = {
            "gold": (f"{iso}/gold/customer_summary/**/*.parquet", "SELECT * FROM gold"),
            "silver": (
                f"{iso}/silver/clean_orders/**/*.parquet",
                "SELECT * FROM clean",
            ),
            "cdc": (f"{iso}/{CDC_TARGET}/*.parquet", "SELECT * FROM cdc"),
        }
        for name, (glob, ref) in tables.items():
            attempted += 1
            got = check.sql(
                con, f"SELECT * FROM read_parquet('{glob}', hive_partitioning = true)"
            )
            why = check.diff(got, check.sql(con, ref))
            if why:
                failures.append(f"{name} table: {why}")
        # One lineage row per write: four pipeline writes and one per CDC
        # micro-batch, every cycle.
        attempted += 1
        lineage = con.execute(
            f"SELECT COUNT(*) FROM read_parquet('{self.iso_root}/lineage_log/*.parquet')"
        ).fetchone()[0]
        expected = self.cycles * (4 + 1 + CDC_BATCHES)
        if lineage != expected:
            failures.append(f"lineage: {lineage} rows for {expected} writes")
        con.close()
        return attempted, failures


WORKLOADS = {w.name: w for w in (MemoRebuild, EtlCdc)}
