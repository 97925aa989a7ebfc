"""The benchmark's two closed-loop workloads.

Each workload has a set-up, an operation mix, and a correctness check that
runs once after the loop, outside timing.
Every operation ends at a materialized result or a published commit.

Both are closed loops with one client. (Two clients sharing one session
overlapped different operations in each run, which moved latency between
them from run to run on a 4-core machine.)

- ``BronzeIngest``: one operation is one daily pt-BR CSV batch through
  ingest -> checked ACID append of its new keys -> upsert of its re-sent
  keys + compaction -> aggregate-view refresh -> bronze-to-silver
  streaming hop.
- ``AnalyticsRead``: registry relational and temporal queries, snapshot /
  time-travel / pruned reads of a multi-commit ACID lineitem table, and
  registry dedup, ANN similarity and text operators over the generated
  corpus with freshly trained IVF/PQ indexes.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from datetime import date, timedelta

import duckdb
import numpy as np
from data_ingestion_bra_spark.plans import llm_ops
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.tracing import count_exchanges, dir_size, input_records
from tools.check_oracle import _pdf_rows, table_hash

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@dataclass
class Op:
    kind: str
    index: int
    start: float = 0.0
    end: float = 0.0
    ok: bool = True
    error: str = ""
    result: object = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.seed = ctx.seed

    @classmethod
    def generate(cls, tables_dir: str, seed: int) -> dict:
        """Write the tables the workload reads before its session starts;
        return their row counts."""
        return {}

    def kind_of(self, i: int) -> str:
        return self.kinds[i % len(self.kinds)]

    # the measured loop calls prepare (untimed), run (timed), after (untimed)
    def prepare(self, op: Op) -> None:
        pass

    def after(self, op: Op) -> None:
        pass


# --------------------------------------------------------------------------
# bronze_ingest
# --------------------------------------------------------------------------
class BronzeIngest(Workload):
    name = "bronze_ingest"
    # every batch after set-up's re-sends keys, so each one upserts and compacts
    kinds = ("batch",)
    ROWS = 80_000  # CSV rows per daily batch in the loop (4.4 MB: two read tasks)
    WARMUP_ROWS = 10_000  # CSV rows of the set-up batch, which pays first-touch costs

    def setup(self) -> None:
        """Fresh lake; the first daily batch lands through the full path."""
        self.lake = os.path.join(self.ctx.work, "lake")
        self.csv_dir = os.path.join(self.lake, "landing")
        os.makedirs(self.csv_dir)
        self.bronze = os.path.join(self.lake, "bronze_acid")
        self.view = os.path.join(self.lake, "uf_view")
        self.silver = os.path.join(self.lake, "silver")
        self.ckpt = os.path.join(self.lake, "silver_ckpt")
        self.batches = gen.CsvBatches(self.seed)
        self.sent: list[dict] = []
        op = Op("batch", 0)
        self.prepare(op)
        self.run(op)

    def prepare(self, op: Op) -> None:
        i = len(self.sent)
        first_new = self.batches.next_id  # ids below it are re-sent
        rows = self.ROWS if i else self.WARMUP_ROWS
        body, resent = self.batches.make(i, rows)
        path = os.path.join(self.csv_dir, f"batch-{i:04d}.csv")
        with open(path, "wb") as f:
            f.write(body)
        cfg = {
            "csv": {"path": path, "delimiter": ";", "encoding": "utf-8", "has_header": True},
            **gen.BRONZE_CONFIG,
            "output": {"base_dir": os.path.join(self.lake, "bronze"), "table": "tb_indicadores",
                       "partition_key": "anomesdia"},
        }
        cfg_path = path[:-4] + ".json"
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        op.attrs.update(batch=i, cfg=cfg_path, rows=rows, resent=[int(x) for x in resent],
                        first_new=first_new, csv_bytes=len(body),
                        day=date(2024, 1, 1) + timedelta(days=i))
        self.sent.append(op.attrs)

    def run(self, op: Op) -> None:
        from data_ingestion_bra_spark.pipelines import ingest_csv
        from data_ingestion_bra_spark.sinks import matview, txlog
        from data_ingestion_bra_spark.streaming import medallion

        a = op.attrs
        with self.tr.span("pipelines.ingest_csv"):
            res = ingest_csv.run(self.spark, a["cfg"], run_date=a["day"], fmt="parquet",
                                 show_preview=False)
        a["partition_dir"], a["manifest"] = res["partition_dir"], res["manifest"]
        batch = self.spark.read.parquet(res["partition_dir"])
        new = F.col("id") >= a["first_new"]
        with self.tr.span("sinks.txlog.commit"):
            txlog.commit_append_checked(batch.filter(new) if a["resent"] else batch, self.bronze)
        if a["resent"]:
            with self.tr.span("sinks.txlog.upsert"):
                txlog.commit_upsert(self.spark, self.bronze, batch.filter(~new), "id")
            with self.tr.span("sinks.txlog.compact") as sp:
                v = txlog.compact(self.spark, self.bronze)
            if sp is not None and v is not None:
                rec = txlog._read_log(self.bronze)[v]
                live = {txlog._entry_path(e): e.get("bytes", 0) for e in txlog.snapshot(self.bronze, v - 1).entries}
                sp.attrs["bytes_rewritten"] = sum(live.get(p, 0) for p in rec.get("remove", []))
        with self.tr.span("sinks.matview.refresh"):
            matview.refresh_agg_view(self.spark, self.bronze, self.view,
                                     key_cols=("uf",), sum_cols=("populacao",))
        with self.tr.span("streaming.medallion.hop") as sp:
            q = medallion.bronze_to_silver(
                self.spark, self.bronze, self.silver, checkpoint_dir=self.ckpt,
                transform=lambda df: df.filter(F.col("ibc").isNotNull()),
                available_now=True, ignore_changes=True)
            q.awaitTermination()
            if sp is not None:
                sp.attrs["stream_group"] = str(q.runId)
        if q.exception() is not None:
            raise RuntimeError(f"silver hop failed: {q.exception()}")

    def rows_consumed(self, ops: list[Op], loop_jobs: list[int]) -> int:
        """CSV rows the loop committed to bronze."""
        return sum(o.attrs["rows"] for o in ops if o.ok)

    def storage_bytes(self) -> int:
        return sum(dir_size(os.path.join(self.lake, d))[0] for d in ("bronze", "bronze_acid", "uf_view", "silver"))

    def log_counts(self) -> dict:
        from data_ingestion_bra_spark.sinks import txlog

        return {"sinks.txlog.log_records": len(txlog._read_log(self.bronze)),
                "sinks.txlog.data_files": len(txlog.snapshot(self.bronze).entries)}

    def input_bytes(self) -> int:
        return sum(a["csv_bytes"] for a in self.sent)

    def check(self, ops: list[Op]) -> None:
        """Reconcile generator, bronze partitions, manifests, the ACID table,
        the silver table and the aggregate view (DuckDB over the files)."""
        from data_ingestion_bra_spark.sinks import txlog

        con = duckdb.connect()
        con.execute("SET threads TO 4")
        by_batch = {op.attrs["batch"]: op for op in ops}
        for a in self.sent:
            op = by_batch.get(a["batch"])
            n_part = con.execute(
                f"SELECT count(*) FROM read_parquet('{a['partition_dir']}/*.parquet')").fetchone()[0]
            with open(a["manifest"]) as f:
                n_man = json.load(f)["schema_stats"]["linhas"]
            if op is not None and not (n_part == n_man == a["rows"]):
                op.ok, op.error = False, f"partition {n_part} / manifest {n_man} rows, sent {a['rows']}"
        problems = []
        files = lambda d: [os.path.join(d, f) for f in txlog.snapshot(d).files]  # noqa: E731
        bronze = files(self.bronze)
        stats = txlog.table_stats(self.bronze)
        n_ids = self.batches.next_id
        got = con.execute(f"SELECT count(*), count(DISTINCT id) FROM read_parquet({bronze!r})").fetchone()
        if not (got[0] == got[1] == n_ids == stats["n_rows"]):
            problems.append(f"bronze rows {got}, table_stats {stats['n_rows']}, ids sent {n_ids}")
        # the latest send of every id wins: compare the re-sent rows' values
        last = {}
        for a in self.sent:
            for k in a["resent"]:
                last[k] = a["partition_dir"]
        if last:
            mism = 0
            for part in set(last.values()):
                ids = [k for k, p in last.items() if p == part]
                mism += con.execute(
                    f"""SELECT count(*) FROM read_parquet('{part}/*.parquet') s
                        JOIN read_parquet({bronze!r}) b USING (id)
                        WHERE s.id IN ({','.join(map(str, ids))})
                          AND (s.populacao IS DISTINCT FROM b.populacao
                               OR s.ibc IS DISTINCT FROM b.ibc)""").fetchone()[0]
            if mism:
                problems.append(f"{mism} upserted rows hold stale values")
        # silver receives every row bronze commits carry as data changes
        emitted = []
        for rec in txlog._read_log(self.bronze):
            if rec.get("meta", {}).get("data_change") is False:
                continue
            emitted += [os.path.join(self.bronze, txlog._entry_path(e)) for e in rec.get("add", [])]
        want_silver = con.execute(
            f"SELECT count(*) FROM read_parquet({emitted!r}) WHERE ibc IS NOT NULL").fetchone()[0]
        have_silver = con.execute(f"SELECT count(*) FROM read_parquet({files(self.silver)!r})").fetchone()[0]
        if want_silver != have_silver:
            problems.append(f"silver {have_silver} rows, bronze emitted {want_silver}")
        view = con.execute(
            f"SELECT uf, n_rows, sum_populacao FROM read_parquet({files(self.view)!r}) ORDER BY uf").fetchall()
        want_view = con.execute(
            f"""SELECT uf, count(*), CAST(sum(populacao) AS BIGINT) FROM read_parquet({bronze!r})
                GROUP BY uf ORDER BY uf""").fetchall()
        if view != want_view:
            problems.append("aggregate view differs from a group-by of the bronze snapshot")
        if problems:
            for op in ops:
                op.ok, op.error = False, "; ".join(problems)


# --------------------------------------------------------------------------
# analytics_read
# --------------------------------------------------------------------------
REL_QUERIES = (
    "flagship_customer_orders", "agg_pricing_summary", "join_customers_per_region",
    "join_left_outer_order_counts", "count_distinct_customers_per_status",
    "window_top3_orders_per_customer", "rollup_status_priority",
    "events_tumbling_hourly", "events_session_windows", "events_asof_purchase_click",
)
ACID_OPS = ("acid_latest", "acid_time_travel", "acid_prune_range", "acid_point_lookup",
            "acid_table_stats")
ACID_COMMITS = 4
LLM_QUERIES = (
    "dedup_minhash_lsh", "dedup_simhash", "dedup_exact_groups", "similarity_topk_ivf",
    "similarity_topk_ivfpq", "text_quality_scores", "text_langid_nb", "curation_pipeline",
)


# every pair with exact 3-gram Jaccard >= 0.5, from the registry's own
# shingle and Jaccard SQL with no candidate filter
LSH_TRUTH = "WITH " + llm_ops._SH_CTE + "," + llm_ops._JACCARD_TAIL.format(cand_join="", thr_e4=5000)


def _hash(pdf) -> str:
    """The order-insensitive, type-strict value hash of tools/check_oracle.py."""
    return table_hash(_pdf_rows(pdf), list(pdf.columns))


class AnalyticsRead(Workload):
    name = "analytics_read"
    SCALE = dict(sf=0.02, docs=600, vectors=600)  # generated table sizes

    @classmethod
    def generate(cls, tables_dir: str, seed: int) -> dict:
        return gen.write_tables(tables_dir, seed, **cls.SCALE)

    def __init__(self, ctx):
        from data_ingestion_bra_spark.plans.registry import get_queries

        super().__init__(ctx)
        self.builders = get_queries()
        self.rng = np.random.default_rng([ctx.seed, 7])
        # A fixed, interleaved order; the seed drives the data, keys and
        # ranges.
        groups = (REL_QUERIES, LLM_QUERIES, ACID_OPS)
        self.kinds = [g[i] for i in range(max(map(len, groups))) for g in groups if i < len(g)]
        n_orders = ctx.counts["orders"]
        self.bounds = np.linspace(0, n_orders, ACID_COMMITS + 1).astype(int)
        self.points = [int(k) for k in self.rng.integers(0, n_orders, 8)]
        self.ranges = [(int(lo), int(lo) + n_orders // 50)
                       for lo in self.rng.integers(0, n_orders - n_orders // 50, 8)]

    def setup(self) -> None:
        """A multi-commit ACID copy of lineitem (one append per l_orderkey
        range, with per-file bloom indexes on the key), and the IVF and PQ
        indexes trained into a fresh cache directory."""
        from data_ingestion_bra_spark.operators import pq, similarity
        from data_ingestion_bra_spark.sinks import txlog
        from data_ingestion_bra_spark.sources.tables import load_table

        self.cache = os.environ["SPARK_GRAFT_IVF_CACHE"]  # empty: the run's own
        emb = load_table(self.spark, self.ctx.tables_dir, "embeddings")
        # the registry's own index parameters (similarity_topk_ivf/_ivfpq)
        similarity.load_or_build_ivf_index(self.spark, emb, self.ctx.tables_dir,
                                           n_centroids=8, n_iter=1, train_sample_rate=0.5)
        pq.load_or_build_pq_index(self.spark, emb, self.ctx.tables_dir)

        self.acid = os.path.join(self.ctx.work, "lineitem_acid")
        li = self.spark.read.parquet(os.path.join(self.ctx.tables_dir, "lineitem.parquet"))
        for lo, hi in zip(self.bounds[:-1], self.bounds[1:]):
            part = li.filter((F.col("l_orderkey") >= int(lo)) & (F.col("l_orderkey") < int(hi)))
            txlog.commit_append(part.coalesce(2), self.acid, bloom_cols=("l_orderkey",))

    def run(self, op: Op) -> None:
        if op.kind in ACID_OPS:
            self.run_acid(op)
        else:
            self.run_registry(op)

    def _agg(self, df):
        return df.agg(F.count(F.lit(1)).alias("n"),
                      F.sum(F.col("l_quantity").cast("bigint")).alias("q")).first()

    def run_acid(self, op: Op) -> None:
        from data_ingestion_bra_spark.sinks import txlog

        k = op.kind
        j = op.index % 8
        if k == "acid_table_stats":
            with self.tr.span("sinks.txlog.stats"):
                s = txlog.table_stats(self.acid)
            op.result = (s["n_rows"], s["n_files"])
            return
        kw, flt = {}, None
        if k == "acid_time_travel":
            kw["version"] = 1
        elif k == "acid_prune_range":
            lo, hi = self.ranges[j]
            kw["prune"] = ("l_orderkey", lo, hi)
            flt = F.col("l_orderkey").between(lo, hi)
        elif k == "acid_point_lookup":
            kw["prune_eq"] = ("l_orderkey", self.points[j])
            flt = F.col("l_orderkey") == self.points[j]
        with self.tr.span("sinks.txlog.snapshot") as sp:
            df = txlog.read_snapshot(self.spark, self.acid, **kw)
        if sp is not None:
            sp.attrs["pruning"] = flt is not None
            sp.attrs["files_read"] = len(df.inputFiles())
            sp.attrs["files_live"] = len(txlog.snapshot(self.acid, kw.get("version")).entries)
        if flt is not None:
            df = df.filter(flt)
        with self.tr.span("sinks.txlog.read_execute"):
            r = self._agg(df)
        op.result = (int(r["n"]), int(r["q"] or 0))

    def check(self, ops: list[Op]) -> None:
        con = self.duck()
        self.check_registry([o for o in ops if o.kind not in ACID_OPS], con)
        n_files = sum(1 for _ in os.scandir(os.path.join(self.acid, "data")))
        agg = "SELECT count(*), CAST(coalesce(sum(l_quantity), 0) AS BIGINT) FROM lineitem"
        v1 = int(self.bounds[2])
        for op in ops:
            if not op.ok or op.kind not in ACID_OPS:
                continue
            j = op.index % 8
            if op.kind == "acid_table_stats":
                want = (con.execute("SELECT count(*) FROM lineitem").fetchone()[0], op.result[1])
                ok = op.result == want and op.result[1] >= n_files
            else:
                where = {
                    "acid_latest": "TRUE",
                    "acid_time_travel": f"l_orderkey < {v1}",
                    "acid_prune_range": "l_orderkey BETWEEN {} AND {}".format(*self.ranges[j]),
                    "acid_point_lookup": f"l_orderkey = {self.points[j]}",
                }[op.kind]
                ok = op.result == tuple(con.execute(f"{agg} WHERE {where}").fetchone())
            if not ok:
                op.ok, op.error = False, f"{op.kind} result {op.result} differs from DuckDB"

    def run_registry(self, op: Op) -> None:
        with self.tr.span("plans.build", query=op.kind):
            df = self.builders[op.kind](self.spark, self.ctx.tables_dir)
        with self.tr.span("plans.execute", query=op.kind):
            op.result = df.toPandas()
        op.attrs["df"] = df

    def after(self, op: Op) -> None:
        """Exchanges of the executed plan, in traced runs."""
        df = op.attrs.pop("df", None)
        if df is not None and self.tr.enabled:
            op.attrs["exchanges"] = count_exchanges(df)

    def check_registry(self, ops: list[Op], con) -> None:
        """Every result of a registry query against its DuckDB twin, with
        the order-insensitive hash of tools/check_oracle.py."""
        from data_ingestion_bra_spark.plans.registry import get_oracle_sql

        oracles = get_oracle_sql()
        want: dict[str, str] = {}
        for op in ops:
            if not op.ok or op.kind not in oracles:
                continue
            if op.kind not in want:
                want[op.kind] = _hash(con.sql(oracles[op.kind]).df())
            if _hash(op.result) != want[op.kind]:
                op.ok, op.error = False, "result differs from the DuckDB twin"

    def recalls(self, ops: list[Op]) -> dict:
        """Approximate operators against exact twins on this run's inputs:
        IVF and IVF-PQ top-k against brute-force cosine top-k, and MinHash
        LSH pairs against all pairs with exact 3-gram Jaccard >= 0.5."""
        from data_ingestion_bra_spark.plans.registry import get_oracle_sql

        con = self.duck()
        first = {}
        for op in ops:
            if op.ok and op.kind in LLM_QUERIES and op.kind not in first:
                first[op.kind] = op.result
        exact = con.sql(get_oracle_sql()["similarity_topk_bruteforce"]).df()
        truth = set(zip(exact.query_id, exact.cand_id))
        out = {}
        for kind, name in (("similarity_topk_ivf", "operators.similarity.ivf_recall_at_k"),
                           ("similarity_topk_ivfpq", "operators.pq.ivfpq_recall_at_k")):
            if kind in first:
                got = set(zip(first[kind].query_id, first[kind].cand_id))
                out[name] = len(got & truth) / len(truth)
        if "dedup_minhash_lsh" in first:
            pairs = {(a, b) for a, b, _j in con.sql(LSH_TRUTH).fetchall()}
            got = set(zip(first["dedup_minhash_lsh"].doc_a, first["dedup_minhash_lsh"].doc_b))
            out["operators.dedup.lsh_pair_recall"] = len(got & pairs) / len(pairs) if pairs else 1.0
        return out

    def rows_consumed(self, ops: list[Op], loop_jobs: list[int]) -> int:
        """Records the loop's Spark stages read from their inputs (file
        scans), from Spark's status store."""
        return input_records(self.spark, loop_jobs)

    def storage_bytes(self) -> int:
        return dir_size(self.acid)[0] + dir_size(self.cache)[0]

    def duck(self) -> duckdb.DuckDBPyConnection:
        """DuckDB views over the generated tables, for the twins."""
        con = duckdb.connect()
        con.execute("SET threads TO 4")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.ctx.tables_dir}/{t}.parquet/*.parquet')"
            )
        return con

    def input_bytes(self) -> int:
        return dir_size(self.ctx.tables_dir)[0]


WORKLOADS = {w.name: w for w in (BronzeIngest, AnalyticsRead)}
