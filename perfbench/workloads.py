"""The three workloads: what one op is, how the inputs are set up, and
how the outputs are checked.

Each workload only calls the engine's public functions; every call is
wrapped in a tracer span named after the layer it enters, so the traced
run can split an op's time by layer from outside the engine.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import subprocess
import sys

from perfbench import fixture
from perfbench.measure import bytes_written, tree_files

GEN_SF = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      "tools", "gen_sf.py")

# Registry queries whose noop-sink execution outweighs their DataFrame
# build: one to three build jobs against 0.2-2 s of execution at
# sf0.1. q05_region_revenue, q09_product_type_profit and q_anova_f are
# left out: their execute time is at most ~1.3x their build time
# (q05's is below it), inside the run-to-run spread of a single op, so
# their side of the split is not reliable.
SCAN_QUERIES = (
    "q01_pricing_summary", "q03_shipping_priority", "q18_large_orders",
    "q21_blame_supplier", "llm_exact_dedup", "q_window_topk_per_group",
    "llm_tfidf_top_terms",
)
# Driver-paced families: 20-65 lineage-cutting build jobs per query
# against one to four tiny execute jobs, so build time sets op time.
ITERATIVE_QUERIES = (
    "q_graph_pagerank", "q_graph_ppr", "q_graph_hits", "q_graph_kcore",
    "q_graph_communities", "llm_bpe_encode", "llm_textrank_summary",
)


def op_order(seed: int, names: tuple[str, ...], round_no: int) -> list[str]:
    """The seeded order of one round: every name once."""
    order = list(names)
    random.Random(f"{seed}:{round_no}").shuffle(order)
    return order


class QueryWorkload:
    """Closed loop over registry queries: one op = build the DataFrame
    (``queries`` layer, including any eager lineage-cut jobs) and run
    it to the noop sink (``operators`` execute path)."""

    def __init__(self, queries: tuple[str, ...], sf: float, passes: int):
        self.queries = queries
        self.sf = sf
        self.passes = passes

    def setup(self, ctx) -> None:
        from aws_datalake_spark.catalog import register_views
        from aws_datalake_spark.queries import all_queries

        self.sf_dir = os.path.join(ctx.run_dir, "lake")
        with ctx.tracer.span("setup.inputs"):
            # the repository's own fixture generator, in a child
            # process so that its memory is not the driver's
            subprocess.run([sys.executable, GEN_SF, "--sf", str(self.sf),
                            "--out", self.sf_dir], check=True, stdout=sys.stderr)
        with ctx.tracer.span("catalog.register"):
            register_views(ctx.spark, self.sf_dir)
        self._registry = all_queries()

    def warmup(self, ctx) -> None:
        # two untimed passes: a fresh JVM's first pass pays JIT and
        # codegen, and the pass after it still ran ~15 % slower than
        # the passes after that
        for r in (-2, -1):
            for name in op_order(ctx.seed, self.queries, r):
                self.run_op(ctx, name)

    def round(self, ctx, round_no: int) -> list[str]:
        return [name for p in range(self.passes)
                for name in op_order(ctx.seed, self.queries, self.passes * round_no + p)]

    def run_op(self, ctx, name: str) -> None:
        with ctx.tracer.span("queries.build"):
            df = self._registry[name](ctx.spark, self.sf_dir)
        with ctx.tracer.span("operators.exec"):
            df.write.format("noop").mode("overwrite").save()

    def final_check(self, ctx) -> list[tuple[str, bool, str]]:
        """Each distinct query once against its DuckDB oracle."""
        from aws_datalake_spark import testing
        from aws_datalake_spark.queries import all_oracles

        oracles = all_oracles()
        con = testing.duckdb_con(self.sf_dir)
        out = []
        for name in op_order(ctx.seed, self.queries, -3):
            r = testing.check_query(ctx.spark, con, self.sf_dir, name,
                                    self._registry[name], oracles.get(name))
            out.append((name, r.status == "PASS", "; ".join(r.errors)))
        return out

    def layer_state(self, ctx, t0: float, t1: float) -> dict:
        return {}


# ------------------------------------------------------------ daily ELT

_RAW_SCHEMA = (
    "_id bigint, name string, status string, costType string, "
    "startDateTime struct<date: struct<year: int, month: int, day: int>>, "
    "totalBudget double, stats struct<impressions: bigint, clicks: bigint>, "
    "targeting struct<geoTargeting: struct<targetedLocations: array<struct<"
    "id: bigint, type: string, canonicalParentId: bigint, displayName: string>>>>"
)
_MAIN_SCHEMA = (
    "_id bigint, name string, status string, cost_type string, start_year int, "
    "budget double, impressions bigint, clicks bigint, generic1 string, "
    "insrt_ts timestamp"
)
_LOC_SCHEMA = (
    "_id bigint, location_id bigint, location_type string, "
    "canonical_parent_id bigint, location_name string, insrt_ts timestamp"
)
_DAY0 = dt.date(2024, 1, 1)


def _day_date(d: int) -> str:
    return (_DAY0 + dt.timedelta(days=d)).isoformat()


class EltWorkload:
    """The reference pipeline run day after day on a fresh lake.

    One op = one day: transform the day's raw JSONL (rules, child
    explode, stateful deltas), SCD2 batch load with a single-commit
    publish, SCD2 merge into a native-format dimension, append the
    day's metrics to a fact table, refresh the materialized view over
    it, compact + vacuum every ``compact_every`` days, then the
    analyst read set over the state the day left."""

    def __init__(self, n_entities: int = 10_000, changed_per_day: int = 500,
                 new_per_day: int = 50, compact_every: int = 3):
        self.n_entities = n_entities
        self.changed_per_day = changed_per_day
        self.new_per_day = new_per_day
        self.compact_every = compact_every

    # -------------------------------------------------------- set-up

    def setup(self, ctx) -> None:
        self.lake = os.path.join(ctx.run_dir, "lake")
        self.raw = os.path.join(ctx.run_dir, "raw")
        self.wh = os.path.join(self.lake, "warehouse")
        self.dim = os.path.join(self.lake, "dim_line_item")
        self.fact = os.path.join(self.lake, "fact_daily")
        self.mv = os.path.join(self.lake, "mv_status")
        self.stream = fixture.EltStream(ctx.seed, self.n_entities,
                                        self.changed_per_day, self.new_per_day)
        self.raw_files: list[str] = []  # day d's JSONL file at index d
        self.raw_bytes: list[int] = []
        self.next_day = 0
        self.stats: list[dict] = []
        self._lookup_rng = random.Random(f"{ctx.seed}:lookup")
        with ctx.tracer.span("setup.inputs"):
            self._day(ctx, self._stage_raw(0), record=False)

    def warmup(self, ctx) -> None:
        # one discarded day: the first close-out, refresh and
        # change-feed read pay JIT and codegen
        self._day(ctx, self._stage_raw(1), record=False)

    def round(self, ctx, round_no: int) -> list[int]:
        # a round of ``compact_every`` days holds exactly one
        # compaction day, so every run times the same mix of days
        return [self._stage_raw(self.next_day + i) for i in range(self.compact_every)]

    def _stage_raw(self, d: int) -> int:
        """Generate and write day ``d``'s raw docs (outside op timing)."""
        if d < len(self.raw_files):
            return d
        path = os.path.join(self.raw, f"day={d:03d}", "part-0.json")
        self.raw_bytes.append(fixture.write_jsonl(self.stream.day(d), path))
        self.raw_files.append(path)
        return d

    def run_op(self, ctx, d: int) -> None:
        before = tree_files(self.lake) if ctx.tracer.traced else {}
        stats = self._day(ctx, d, record=True)
        if ctx.tracer.traced:
            stats["written_b"] = bytes_written(before, tree_files(self.lake))
        self.stats.append(stats)

    # ----------------------------------------------------- one day

    def _day(self, ctx, d: int, record: bool) -> dict:
        from pyspark.sql import functions as F

        from aws_datalake_spark.operators.rules import Rule
        from aws_datalake_spark.operators.scalar import add_audit_ts
        from aws_datalake_spark.pipelines import (
            EntityLoad, TransformationJob, run_batch_load, run_transformation,
        )
        from aws_datalake_spark.sources import mv as mvmod
        from aws_datalake_spark.sources import txn_table as tt
        from aws_datalake_spark.sources.readers import read_pipe_staging
        from aws_datalake_spark.sources.writers import write_pipe_csv

        spark, tr = ctx.spark, ctx.tracer
        if d != self.next_day:
            raise ValueError(f"day {d} run out of order (next is {self.next_day})")
        self.next_day += 1
        date = _day_date(d)
        day_ts = f"{date} 00:00:01"
        raw_path = os.path.dirname(self.raw_files[d])
        main_stg = os.path.join(self.lake, "staging", "line_item", f"day={d:03d}")
        loc_stg = os.path.join(self.lake, "staging", "line_item_locations", f"day={d:03d}")
        out: dict = {"day": d}
        listing = tr.traced and record

        def files():
            return tree_files(self.lake) if listing else {}

        before_pipe = files()
        with tr.span("pipelines.transform"):
            job = TransformationJob(
                rules=[
                    Rule("_id", "_id"),
                    Rule("name", "name"),
                    Rule("status", "status"),
                    Rule("costType", "cost_type"),
                    Rule("startDateTime.date.year", "start_year", kind="nested"),
                    Rule("totalBudget", "budget"),
                    Rule("stats.impressions", "impressions", kind="nested"),
                    Rule("stats.clicks", "clicks", kind="nested"),
                ],
                final_columns=["_id", "name", "status", "cost_type", "start_year",
                               "budget", "impressions", "clicks", "generic1", "insrt_ts"],
                key_cols=["_id"],
                metric_cols=["impressions", "clicks"],
                child_arrays={"locations": "targeting.geoTargeting.targetedLocations"},
                generic_padding=1,
                historical_date=date,
            )
            outputs = run_transformation(
                spark, raw_path, main_stg, job,
                state_path=os.path.join(self.lake, "state", "line_item"),
                schema=_RAW_SCHEMA, multi_line=False,
            )
            child = outputs["locations"].select(
                "_id",
                F.col("elem.id").alias("location_id"),
                F.col("elem.type").alias("location_type"),
                F.col("elem.canonicalParentId").alias("canonical_parent_id"),
                F.col("elem.displayName").alias("location_name"),
            )
            write_pipe_csv(add_audit_ts(child, historical_date=date), loc_stg)
        close_ts = None if d == 0 else day_ts
        with tr.span("pipelines.load"):
            run_batch_load(spark, self.wh, f"d{d:03d}", {
                "line_item": EntityLoad(main_stg, ["_id"], _MAIN_SCHEMA, close_ts=close_ts),
                "line_item_locations": EntityLoad(
                    loc_stg, ["_id", "location_id"], _LOC_SCHEMA, close_ts=close_ts),
            })
        if listing:
            out["pipeline_written_b"] = bytes_written(before_pipe, files())
        staged = read_pipe_staging(spark, main_stg, schema=_MAIN_SCHEMA)
        v_before = tt.snapshot(self.dim)["version"]
        with tr.span("sources.txn.merge"):
            res = tt.scd2_merge_txn(
                spark, self.dim,
                staged.select("_id", "name", "status", "cost_type", "start_year",
                              "budget", "impressions", "clicks", "insrt_ts"),
                keys=["_id"], close_ts=F.lit(day_ts).cast("timestamp"),
            )
        out["merge_rewritten"], out["merge_untouched"] = res["rewritten"], res["untouched"]
        with tr.span("sources.txn.write"):
            tt.write(staged.select("_id", F.lit(d).alias("day"), "status",
                                   "impressions", "clicks"), self.fact)
        if d == 0:
            with tr.span("sources.mv.refresh"):
                mvmod.mv_create(spark, self.fact, self.mv, ["status"], {
                    "n": ("count",),
                    "impressions": ("sum", "impressions"),
                    "clicks": ("sum", "clicks"),
                })
            out["mv_mode"] = "create"
        else:
            with tr.span("sources.mv.refresh"):
                r = mvmod.mv_refresh(spark, self.mv)
            out["mv_mode"] = r["mode"]
            # a full recompute reports dirty_groups = -1
            out["dirty_groups"] = max(r["dirty_groups"], 0)
        out["compact_rewritten_b"] = 0
        if d > 0 and d % self.compact_every == 0:
            with tr.span("sources.txn.compact"):
                for root in (self.dim, self.fact):
                    if listing:
                        out["compact_rewritten_b"] += sum(
                            os.path.getsize(os.path.join(root, p))
                            for p in tt.snapshot(root)["files"])
                    tt.compact(spark, root)
                    tt.vacuum(root, retain_versions=3)
        self._reads(ctx, d, v_before, res["version"])
        return out

    def _reads(self, ctx, d: int, v_before: int, v_merge: int) -> None:
        """The post-day analyst read set; each read is a DataFrame
        build followed by a collect."""
        from pyspark.sql import functions as F

        from aws_datalake_spark.operators.scd2 import scd2_asof
        from aws_datalake_spark.sources import mv as mvmod
        from aws_datalake_spark.sources import txn_table as tt
        from aws_datalake_spark.sources.publish import read_published

        spark, tr = ctx.spark, ctx.tracer
        asof = f"{_day_date(max(d - 2, 0))} 00:00:01"
        key = self._lookup_rng.randrange(self.n_entities)
        reads = (
            ("sources.publish.read", lambda: read_published(spark, self.wh, "line_item")
             .filter(F.col("actv_flg") == "Y")
             .agg(F.count(F.lit(1)), F.sum("impressions"), F.sum("budget"))),
            ("sources.txn.read", lambda: scd2_asof(tt.read(spark, self.dim), asof,
                                                   from_col="insrt_ts")
             .agg(F.count(F.lit(1)), F.sum("impressions"))),
            ("sources.txn.read", lambda: tt.read_changes_typed(spark, self.dim, v_before, v_merge)
             .groupBy("_change_type").count()),
            ("sources.txn.read", lambda: tt.read(spark, self.dim, prune={"_id": (key, key)})
             .filter(F.col("_id") == key).select("_id", "actv_flg", "impressions")),
            ("sources.mv.read", lambda: mvmod.mv_read(spark, self.mv)),
        )
        with tr.span("elt.reads"):
            for layer, build in reads:
                with tr.span(layer):
                    with tr.span("queries.build"):
                        df = build()
                    with tr.span("operators.exec"):
                        df.collect()

    # ----------------------------------------------------- checks

    def final_check(self, ctx) -> list[tuple[str, bool, str]]:
        """End state vs an independent DuckDB replay of the raw stream,
        plus ``fsck(verify_stats=True)`` of every txn table."""
        import duckdb
        from pyspark.sql import functions as F

        from aws_datalake_spark.sources import mv as mvmod
        from aws_datalake_spark.sources import txn_table as tt
        from aws_datalake_spark.sources.publish import read_published

        spark = ctx.spark
        con = duckdb.connect()
        union = " UNION ALL ".join(
            f"SELECT {d} AS day, _id, status, stats.impressions AS imp, "
            f"stats.clicks AS clk FROM read_json('{p}', format='newline_delimited', "
            f"columns={{'_id': 'BIGINT', 'status': 'VARCHAR', "
            f"'stats': 'STRUCT(impressions BIGINT, clicks BIGINT)'}})"
            for d, p in enumerate(self.raw_files[: self.next_day])
        )
        con.execute(f"""
            CREATE TABLE docs AS
            SELECT *, imp - COALESCE(LAG(imp) OVER w, 0) AS d_imp,
                      clk - COALESCE(LAG(clk) OVER w, 0) AS d_clk,
                      ROW_NUMBER() OVER (PARTITION BY _id ORDER BY day DESC) AS rn
            FROM ({union}) WINDOW w AS (PARTITION BY _id ORDER BY day)""")
        n_docs, sum_imp, sum_clk = con.execute(
            "SELECT COUNT(*), SUM(d_imp), SUM(d_clk) FROM docs").fetchone()
        active = sorted(con.execute(
            "SELECT _id, status, d_imp, d_clk FROM docs WHERE rn = 1").fetchall())
        mv_rows = sorted(con.execute(
            "SELECT status, COUNT(*), SUM(d_imp), SUM(d_clk) FROM docs GROUP BY status"
        ).fetchall())

        def scd2_state(df):
            tot = df.agg(F.count(F.lit(1)), F.sum("impressions"), F.sum("clicks")).collect()[0]
            act = sorted(tuple(r) for r in df.filter(F.col("actv_flg") == "Y")
                         .select("_id", "status", "impressions", "clicks").collect())
            return tuple(tot), act

        out = []
        for label, df in (
            ("published line_item", read_published(spark, self.wh, "line_item")),
            ("txn dimension", tt.read(spark, self.dim)),
        ):
            tot, act = scd2_state(df)
            ok = tot == (n_docs, sum_imp, sum_clk) and act == active
            out.append((label, ok, "" if ok else f"totals {tot} vs {(n_docs, sum_imp, sum_clk)}; "
                        f"{len(act)} active rows vs {len(active)}"))
        fact = tuple(tt.read(spark, self.fact).agg(
            F.count(F.lit(1)), F.sum("impressions"), F.sum("clicks")).collect()[0])
        out.append(("fact table", fact == (n_docs, sum_imp, sum_clk), f"{fact}"))
        got_mv = sorted(tuple(r) for r in mvmod.mv_read(spark, self.mv)
                        .select("status", "n", "impressions", "clicks").collect())
        out.append(("materialized view", got_mv == mv_rows, f"{got_mv} vs {mv_rows}"))
        for root in (self.dim, self.fact, self.mv):
            rep = tt.fsck(root, verify_stats=True)
            out.append((f"fsck {os.path.basename(root)}", rep["ok"], "; ".join(rep["problems"][:3])))
        return out

    def layer_state(self, ctx, t0: float, t1: float) -> dict:
        """Table-format state at run end, files the timed days (between
        ``t0`` and ``t1``) committed, and the byte totals."""
        from aws_datalake_spark.sources import txn_table as tt

        timed_days = [s["day"] for s in self.stats]
        roots = (self.dim, self.fact, self.mv)
        return {
            "files_added": sum(h["added"] for r in roots for h in tt.history(r)
                               if t0 <= h["ts"] <= t1),
            "live_files": sum(len(tt.snapshot(r)["files"]) for r in roots),
            "log_versions": sum(tt.snapshot(r)["version"] for r in roots),
            "lake_bytes": sum(tree_files(self.lake).values()),
            "raw_bytes_all": sum(self.raw_bytes[: self.next_day]),
            "raw_bytes_timed": sum(self.raw_bytes[d] for d in timed_days),
        }


def make(name: str, smoke: bool = False):
    """The named workload; ``smoke`` shrinks its inputs for the
    benchmark's own tests."""
    if name == "scan_queries":
        # two passes a round: the first pass after the warm-up still ran
        # ~12 % slower, and spread more, than the second (five seeds)
        return QueryWorkload(SCAN_QUERIES, sf=0.001 if smoke else 0.1, passes=2)
    if name == "iterative_queries":
        # one pass: its DuckDB check alone takes ~45 s, and a second
        # pass would bring a traced run near the 170 s run limit
        return QueryWorkload(ITERATIVE_QUERIES, sf=0.001, passes=1)
    if name == "daily_elt":
        return EltWorkload(300, 30, 5) if smoke else EltWorkload()
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("scan_queries", "iterative_queries", "daily_elt")
