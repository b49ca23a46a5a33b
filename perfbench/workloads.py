"""The benchmark's workloads. Each is a single-client closed loop: the next
operation starts when the previous one returns. See WORKLOADS.md for why
each exists and which layers it bypasses."""

from __future__ import annotations

import os
import random
import sys
import time
import traceback
from contextlib import contextmanager

import oracles
from spans import Tracer, spark_totals, union_length


class Workload:
    """Shared loop bookkeeping: per-operation latency samples, operations
    attempted and failed, and the user-visible rows the loop got through."""

    name = ""
    block_iterations = 1  # iterations that form one repeatable unit of work
    min_blocks = 1  # least number of blocks in a timed window
    rows_unit = "rows"

    def __init__(self, spark, workdir: str, seed: int):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.tracer = Tracer()
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.rows = 0

    def reset_samples(self) -> None:
        self.samples = {}
        self.rows = 0

    @contextmanager
    def op(self, name: str):
        """One timed operation. A raised exception counts as a failed
        operation and does not stop the loop."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"loop.{name}") as rec:
                yield rec["attrs"]
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return
        self.samples.setdefault(name, []).append(time.perf_counter() - t0)

    def collect(self, df):
        with self.tracer.span("collect"):
            return df.collect()

    # A workload defines setup(rep), warmup(), iteration(), check(duckdb_con),
    # trace_points(tracer), layer_metrics(ledger), LAYER_UNITS, op_names
    # (timed operation -> reported median) and rows_unit.


# ---------------------------------------------------------------------------


class IngestFlowControl(Workload):
    """The paper's loop: insert a 100k-row batch under the reference
    runtime thresholds (delay 50, throw 100), one synchronous merge pass,
    the two reference monitoring queries, and a flow-status check."""

    name = "ingest_flow_control"
    # the generator spreads a batch over 24 hours, so admission sees 24, 48
    # and 72 active parts in turn and the merge after the third insert folds
    # each hour back to one part: three iterations are one full cycle
    block_iterations = 3
    TABLE = "test_local"
    ROWS = 100_000
    DELAY, THROW = 50, 100
    MIN_MERGE, MAX_MERGE = 4, 10  # merge_once's max_parts_per_merge default
    BASE_TIME = "2026-01-01 12:00:00"

    def __init__(self, spark, workdir, seed):
        super().__init__(spark, workdir, seed)
        self.gen_seed = seed % 1_000_003

    def setup(self, rep: int) -> None:
        from clickhousedatamocker_spark import Engine
        from clickhousedatamocker_spark.schema import test_local_spec
        from clickhousedatamocker_spark.sources.generator import BatchGenerator

        self.engine = Engine(self.spark, os.path.join(self.workdir, f"warehouse{rep}"))
        self.engine.create_table(test_local_spec())
        self.engine.alter_setting(
            self.TABLE, parts_to_delay_insert=self.DELAY, parts_to_throw_insert=self.THROW
        )
        self.gen = BatchGenerator(self.spark, seed=self.gen_seed, base_time=self.BASE_TIME)
        self.batches = 0
        self.insert_rows: list[int] = []
        self.rejected = 0
        self.last_monitor = None
        self.last_status = None

    def warmup(self) -> None:
        # one iteration: the timed window then starts where admission sees 24
        # parts, on a cycle boundary
        self.iteration()

    def iteration(self) -> None:
        from clickhousedatamocker_spark.harness import QUERY_METRICS_SQL, QUERY_PARTS_SQL
        from clickhousedatamocker_spark.plans.flow_control import TooManyPartsError

        e = self.engine
        k = self.batches
        self.batches += 1
        with self.op("insert"):
            try:
                res = e.insert(self.TABLE, self.gen.batch_with_partition(self.ROWS, batch_no=k))
            except TooManyPartsError:
                self.rejected += 1
                raise
            self.insert_rows.append(res.rows)
            self.rows += res.rows
        with self.op("merge"):
            e.merge_once(self.TABLE, min_parts_to_merge=self.MIN_MERGE)
        with self.op("monitor"):
            metrics = self.collect(e.sql(QUERY_METRICS_SQL))
            parts = self.collect(e.sql(QUERY_PARTS_SQL.format(database="default", table=self.TABLE)))
            self.last_monitor = (metrics, parts)
        with self.op("flow_check"):
            self.last_status = e.flow_status(self.TABLE)

    # the merge pass takes seconds once a cycle and milliseconds otherwise,
    # so its median says nothing; plans.merge_busy_s traces it
    op_names = {"insert": "insert_p50_s", "monitor": "monitor_p50_s"}
    rows_unit = "rows committed"

    def check(self, con) -> list[str]:
        from clickhousedatamocker_spark.sources.generator import gen_oracle_sql

        if self.last_monitor is None or self.last_status is None:
            return ["no complete iteration to check"]
        sql = oracles.generated_rows_sql(
            gen_oracle_sql(self.batches * self.ROWS, self.gen_seed, self.BASE_TIME), self.ROWS
        )
        con.execute(
            f"CREATE OR REPLACE TABLE gen AS SELECT batch_no, "
            f"CAST(strftime(event_time, '%Y%m%d%H') AS BIGINT) AS hour, value FROM ({sql})"
        )
        hours = dict.fromkeys(range(self.batches), ())
        for b, hs in con.execute("SELECT batch_no, list(DISTINCT hour) FROM gen GROUP BY 1").fetchall():
            hours[b] = set(hs)
        flow = oracles.predict_flow(
            [hours[b] for b in range(self.batches)], self.DELAY, self.THROW, self.MIN_MERGE, self.MAX_MERGE
        )
        committed = [b for b, ok in enumerate(flow["admitted"]) if ok]
        want_hours = {
            h: (n, c)
            for h, n, c in con.execute(
                "SELECT hour, count(*), sum(CAST(round(value * 100) AS BIGINT)) FROM gen "
                f"WHERE batch_no IN ({','.join(map(str, committed)) or 'NULL'}) GROUP BY 1"
            ).fetchall()
        }
        got_hours = {
            int(r[0]): (int(r[1]), int(r[2]))
            for r in self.engine.sql(
                "SELECT event_hour, count() AS n, sum(CAST(round(value * 100) AS BIGINT)) AS cents "
                f"FROM {self.TABLE} GROUP BY event_hour"
            ).collect()
        }
        metrics, parts = self.last_monitor
        m = {r["metric"]: int(r["value"]) for r in metrics}
        got = {
            "per_hour": got_hours,
            "metrics": {k: m.get(k) for k in ("InsertedRows", "DelayedInserts", "PartsActive")},
            "flow_active_parts": self.last_status.active_parts,
            "rejected": self.rejected,
            "parts_report": {int(r["partition"]): (int(r["parts_count"]), int(r["total_rows"])) for r in parts},
            "parts_report_len": len(parts),
            "insert_rows": self.insert_rows,
        }
        want = {"per_hour": want_hours, "rows_per_batch": self.ROWS, "flow": flow}
        return oracles.check_ingest(got, want)

    def trace_points(self, t: Tracer) -> None:
        from clickhousedatamocker_spark import engine as engine_mod
        from clickhousedatamocker_spark.functions import compat
        from clickhousedatamocker_spark.plans import flow_control, ingest, parts
        from clickhousedatamocker_spark.sources import generator

        def rows(attrs, args, kwargs, result):
            attrs["rows"] = args[1]

        def zone(attrs, args, kwargs, result):
            attrs["zone"] = result.zone

        def value(attrs, args, kwargs, result):
            attrs["value"] = result

        def written(attrs, args, kwargs, result):
            attrs["parts"] = len(result)
            attrs["bytes"] = sum(p["bytes_on_disk"] for p in result)

        def merges(attrs, args, kwargs, result):
            attrs["merges"] = result

        def inserted(attrs, args, kwargs, result):
            attrs["parts"] = result.new_parts

        t.wrap(generator.BatchGenerator, "batch_with_partition", "sources.batch_with_partition", rows)
        t.wrap(engine_mod.Engine, "insert", "engine.insert")
        t.wrap(engine_mod.Engine, "merge_once", "engine.merge_once", merges)
        t.wrap(engine_mod.Engine, "sql", "engine.sql")
        t.wrap(engine_mod.Engine, "refresh_system_views", "engine.refresh_system_views")
        t.wrap(engine_mod.Engine, "flow_status", "engine.flow_status")
        t.wrap(ingest.Writer, "insert", "plans.writer_insert", inserted)
        t.wrap(flow_control.FlowController, "admit", "plans.admit", zone)
        t.wrap(parts.PartsInventory, "active_parts_count", "plans.active_parts_count", value)
        t.wrap(parts.PartsInventory, "record_commit", "plans.record_commit", written)
        t.wrap(compat, "translate_ch_sql", "functions.translate_ch_sql")

    LAYER_UNITS = {
        "plans.admit_wait_s": "s",
        "plans.admit_delayed": "count",
        "plans.admit_rejected": "count",
        "plans.active_parts_max": "count",
        "plans.writer_busy_s": "s",
        "plans.writer_jobs": "count",
        "plans.parts_per_insert": "count",
        "plans.commit_busy_s": "s",
        "plans.merge_busy_s": "s",
        "plans.merges": "count",
        "plans.merge_bytes_rewritten": "bytes",
        "plans.write_amplification": "ratio",
        "engine.sql_busy_s": "s",
        "engine.refresh_busy_s": "s",
        "engine.collect_busy_s": "s",
        "functions.translate_busy_s": "s",
        "sources.gen_rows": "rows",
    }

    def layer_metrics(self, led) -> dict:
        def busy(spans):
            return union_length([(s["start"], s["end"]) for s in spans])

        admits = led.named("plans.admit")
        writers = led.named("plans.writer_insert")
        merges = led.named("engine.merge_once")
        commits = led.named("plans.record_commit")
        insert_commits = [s for s in commits if led.has_ancestor(s, "engine.insert")]
        merge_commits = [s for s in commits if led.has_ancestor(s, "engine.merge_once")]
        user_bytes = sum(s["attrs"].get("bytes", 0) for s in insert_commits)
        merge_bytes = sum(s["attrs"].get("bytes", 0) for s in merge_commits)
        admit_wait = busy(admits)
        return {
            "plans.admit_wait_s": admit_wait,
            "plans.admit_delayed": sum(s["attrs"].get("zone") == "delay" for s in admits),
            "plans.admit_rejected": sum(s.get("error") == "TooManyPartsError" for s in admits),
            "plans.active_parts_max": max(
                (s["attrs"].get("value", 0) for s in led.named("plans.active_parts_count")), default=0
            ),
            "plans.writer_busy_s": busy(writers) - admit_wait,
            "plans.writer_jobs": sum(len(led.jobs_under(s)) for s in writers),
            "plans.parts_per_insert": sum(s["attrs"].get("parts", 0) for s in writers) / max(len(writers), 1),
            "plans.commit_busy_s": busy(insert_commits),
            "plans.merge_busy_s": busy(merges),
            "plans.merges": sum(s["attrs"].get("merges", 0) for s in merges),
            "plans.merge_bytes_rewritten": merge_bytes,
            "plans.write_amplification": (user_bytes + merge_bytes) / user_bytes if user_bytes else 0.0,
            "engine.sql_busy_s": busy(led.named("engine.sql")),
            "engine.refresh_busy_s": busy(led.named("engine.refresh_system_views")),
            "engine.collect_busy_s": busy(led.named("collect")),
            "functions.translate_busy_s": busy(led.named("functions.translate_ch_sql")),
            "sources.gen_rows": sum(s["attrs"].get("rows", 0) for s in led.named("sources.batch_with_partition")),
        }


# ---------------------------------------------------------------------------


class AnnIvfQuery(Workload):
    """A stream of small query batches, each answered by ivf_topk over the
    setup codebook and by ann_query_indexed over the index built in setup,
    with a fresh IVF train before every third batch. Every call does little
    work, so fixed driver, planning and codegen cost dominates."""

    name = "ann_ivf_query"
    # a train, then three batches: the block every timed window repeats.
    # A block is 8-14 s at 4 cores, and the query paths still get faster
    # over their first blocks. Single-block windows spread 0.18 (IQR /
    # median of rows_per_s over ten runs), so a window holds two.
    block_iterations = 3
    min_blocks = 2
    N, DIM, CLUSTERS = 2000, 64, 10
    K, NPROBE, CENTROIDS, ITERS, BATCH = 10, 3, 8, 2, 5

    def setup(self, rep: int) -> None:
        from clickhousedatamocker_spark.operators.similarity import build_ann_index, ivf_train

        import inputs

        self.input_dir = os.path.join(self.workdir, f"input{rep}")
        inputs.write_embeddings(self.input_dir, self.seed, self.N, self.DIM, self.CLUSTERS)
        self.emb = self.spark.read.parquet(os.path.join(self.input_dir, "embeddings.parquet"))
        self.codebook = ivf_train(self.emb, n_centroids=self.CENTROIDS, n_iters=self.ITERS)
        self.index = os.path.join(self.input_dir, "index")
        build_ann_index(self.emb, self.index, centroids=self.codebook)
        self.queries = random.Random(self.seed * 7919 + 1)
        self.batches: list[tuple[list[int], list, list]] = []
        self.codebooks_differ = 0
        self.iterations = 0

    def warmup(self) -> None:
        # set-up already trained codebooks; warm the two query paths
        self.query_batch()

    def iteration(self) -> None:
        from clickhousedatamocker_spark.operators.similarity import ivf_train

        if self.iterations % self.block_iterations == 0:
            with self.op("ivf_train"):
                cb = ivf_train(self.emb, n_centroids=self.CENTROIDS, n_iters=self.ITERS)
                self.codebooks_differ += cb != self.codebook
        self.iterations += 1
        self.query_batch()

    def query_batch(self) -> None:
        from pyspark.sql import functions as F

        from clickhousedatamocker_spark.operators.similarity import ann_query_indexed, ivf_topk

        ids = sorted(self.queries.sample(range(self.N), self.BATCH))
        q = self.emb.filter(F.col("vec_id").isin(ids))
        a = b = None
        with self.op("ivf_query") as attrs:
            a = self.collect(ivf_topk(self.emb, q, k=self.K, centroids=self.codebook, nprobe=self.NPROBE))
            attrs["returned"] = len(a)
            self.rows += len(ids)
        with self.op("indexed_query") as attrs:
            b = self.collect(ann_query_indexed(self.spark, self.index, q, k=self.K, nprobe=self.NPROBE))
            attrs["returned"] = len(b)
            self.rows += len(ids)
        self.batches.append((ids, a, b))

    op_names = {
        "ivf_train": "ivf_train_p50_s",
        "ivf_query": "ivf_query_p50_s",
        "indexed_query": "indexed_query_p50_s",
    }
    rows_unit = "query vectors answered"

    def check(self, con) -> list[str]:
        from clickhousedatamocker_spark.queries import REGISTRY

        out = []
        if self.codebooks_differ:
            out.append(f"{self.codebooks_differ} fresh ivf_train runs returned another codebook than setup's")
        pairs = set()
        for i, (ids, a, b) in enumerate(self.batches):
            if a is None or b is None:
                out.append(f"batch {i}: a query path returned nothing")
                continue
            a, b = [tuple(r) for r in a], [tuple(r) for r in b]
            out += oracles.check_same_rows(f"batch {i} ivf_topk vs ann_query_indexed", a, b)
            out += oracles.check_topk_shape(a, ids, self.K)
            pairs.update((r[0], r[2]) for r in a)
        path = os.path.join(self.input_dir, "embeddings.parquet")
        con.execute(f"CREATE OR REPLACE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
        con.execute("CREATE OR REPLACE TABLE pairs (q BIGINT, n BIGINT)")
        con.executemany("INSERT INTO pairs VALUES (?, ?)", sorted(pairs))
        exact = {
            (q, n): c
            for q, n, c in con.execute(
                """
                WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
                SELECT p.q, p.n, round(list_dot_product(a.v, b.v)
                    / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)), 6)
                FROM pairs p JOIN e a ON a.vec_id = p.q JOIN e b ON b.vec_id = p.n
                """
            ).fetchall()
        }
        for ids, a, b in self.batches:
            if a is not None:
                out += oracles.check_cosines([tuple(r) for r in a], exact)
        spec = REGISTRY["similarity_topk_ivf_trained"]
        got = [tuple(r) for r in spec.fn(self.spark, self.input_dir).collect()]
        out += oracles.check_same_rows(
            "similarity_topk_ivf_trained vs its DuckDB oracle", got, con.execute(spec.oracle).fetchall()
        )
        return out

    def trace_points(self, t: Tracer) -> None:
        from clickhousedatamocker_spark.operators import similarity

        t.wrap(similarity, "ivf_train", "operators.ivf_train")
        t.wrap(similarity, "ivf_topk", "operators.ivf_topk")
        t.wrap(similarity, "ann_query_indexed", "operators.ann_query_indexed")

    LAYER_UNITS = {
        "operators.ivf_train.jobs": "count",
        "operators.ivf_train.busy_s": "s",
        "operators.ivf_query.jobs": "count",
        "operators.ivf_query.busy_s": "s",
        "operators.indexed_query.jobs": "count",
        "operators.indexed_query.busy_s": "s",
        "operators.ann_rows_read_per_result": "ratio",
    }

    def layer_metrics(self, led) -> dict:
        out = {}
        read = returned = 0
        for op in ("ivf_train", "ivf_query", "indexed_query"):
            spans = led.named(f"loop.{op}")
            jobs = [j for s in spans for j in led.jobs_under(s)]
            out[f"operators.{op}.jobs"] = len(jobs)
            out[f"operators.{op}.busy_s"] = sum(s["end"] - s["start"] for s in spans)
            if op != "ivf_train":
                read += spark_totals(jobs)["records_read"]
                returned += sum(s["attrs"].get("returned", 0) for s in spans)
        out["operators.ann_rows_read_per_result"] = read / returned if returned else 0.0
        return out


WORKLOADS = {w.name: w for w in (IngestFlowControl, AnnIvfQuery)}
