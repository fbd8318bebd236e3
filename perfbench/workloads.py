"""The three benchmark workloads, driven through the package's public API.

Each workload runs closed-loop passes: one caller, the next step starts when
the previous one has finished. ``run_pass(tracer)`` runs one pass and
returns its input rows and the seconds it took. With ``tracer=None`` the
pass is exactly what a user would write; with a tracer every layer call
sits in a span, and the span materialises the layer's output (persist +
count) so the span covers the layer's real work; later layers then read the
cached output instead of recomputing it.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import time
from datetime import datetime

from pyspark.sql import functions as F
from pyspark.sql import types as T

from restaurant_etl_code_spark.enrichment.backends import content_fallback_row
from restaurant_etl_code_spark.enrichment.framework import EnrichConfig, enrich
from restaurant_etl_code_spark.functions import cleansing
from restaurant_etl_code_spark.functions.vectors import hash_embedding_expr
from restaurant_etl_code_spark.multimodal.minipdf import mini_pdf_text
from restaurant_etl_code_spark.operators import matching, similarity
from restaurant_etl_code_spark.plans.pipeline import catalog_pipeline
from restaurant_etl_code_spark.sources import readers, sinks
from restaurant_etl_code_spark.streaming import jobs

import gen
import reference
import standin


def _span(tracer, name: str):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def _materialise(df):
    df = df.persist()
    df.count()
    return df


class Workload:
    name = ""
    # timed passes at least, even when they take longer than --seconds:
    # passes of one workload vary by about 10% on a quiet 4-core machine,
    # and the pass-time median needs several of them to be steady
    min_passes = 1

    def __init__(self, spark, inputs: str, run_dir: str):
        self.spark = spark
        self.inputs = inputs
        self.run_dir = run_dir
        self.passes = 0
        self.pass_seconds: list[float] = []
        self.layer: dict[str, float] = {}  # per-layer counts of the last traced pass
        self._after: list = []  # per-layer counting and cache release after a traced pass

    def _pass_dir(self) -> str:
        self.passes += 1
        d = os.path.join(self.run_dir, f"pass-{self.passes}")
        os.makedirs(d)
        return d

    def prepare(self) -> None:
        """Untimed per-run preparation (part of set-up)."""

    def after_pass(self) -> None:
        """Count per-layer outcomes of the last traced pass and release its
        cached frames; runs outside the pass's span."""
        for fn in self._after:
            fn()
        self._after = []

    def warm_up(self) -> None:
        self.run_pass(None)

    def batch_times(self) -> list[float]:
        """Seconds per batch of the timed passes (a pass is one batch unless
        the workload has smaller batches of its own)."""
        return list(self.pass_seconds)


class GroceryOnboard(Workload):
    """read_csv_catalog -> staging projection -> catalog_pipeline ->
    products through sinks, then updates and match_stats."""

    name = "grocery_onboard"
    # its pass time keeps falling for several passes while the JIT compiles
    # the planner's and the operators' code; the median of three timed
    # passes after the cold one is less swayed by one slow pass than the
    # mean of two after a second warm-up pass, at the same run time
    min_passes = 3
    KEYS = ["article_id"]

    def prepare(self) -> None:
        self.csv = os.path.join(self.inputs, "staged.csv")
        self.existing = self.spark.read.parquet(os.path.join(self.inputs, "existing.parquet"))
        self.master = self.spark.read.parquet(os.path.join(self.inputs, "master.parquet"))
        self.rows = gen.GROCERY_STAGED  # every generated row has a name
        self.layer["readers.rows"] = float(self.rows)

    def _pipeline_args(self) -> dict:
        return dict(
            precheck_keys=self.KEYS,
            upc_col="article_id",
            name_col="product_name",
            master_cols=reference.GROCERY_MASTER_COLS,
            name_dedup_order="afto_product_id",
            embedding_dim=reference.GROCERY_EMBED_DIM,
        )

    def _staged(self):
        raw = readers.read_csv_catalog(self.spark, self.csv)
        staged = cleansing.industry_projection(raw, "grocery")
        for c in reference.GROCERY_MASTER_COLS:
            staged = staged.withColumn(c, F.lit(None).cast("string"))
        return staged.withColumn("subcategory", F.lit(None).cast("string"))

    def run_pass(self, tracer) -> tuple[int, float]:
        out_dir = os.path.join(self._pass_dir(), "products")
        cached = []
        t0 = time.perf_counter()
        with _span(tracer, "readers"):
            staged = self._staged()
            if tracer is not None:
                staged = _materialise(staged)
                cached.append(staged)
        with _span(tracer, "pipeline"):
            if tracer is not None:
                with _span(tracer, "matching"):
                    a = self._pipeline_args()
                    t = time.perf_counter()
                    cascade = _materialise(matching.match_cascade(
                        staged, self.existing, self.master,
                        precheck_keys=a["precheck_keys"], upc_col=a["upc_col"],
                        name_col=a["name_col"], master_cols=a["master_cols"],
                        name_dedup_order=a["name_dedup_order"],
                    ))
                    t1 = time.perf_counter()
                    upd = _materialise(matching.change_detect(
                        staged, self.existing, keys=self.KEYS, staged_price="price",
                        existing_price="price", staged_is_tax="is_tax",
                        existing_tax_pct="tax_percentage",
                    ))
                    self.layer["matching.cascade_s"] = t1 - t
                    self.layer["matching.change_detect_s"] = time.perf_counter() - t1
                    cached += [cascade, upd]
            outs = catalog_pipeline(staged, self.existing, self.master, **self._pipeline_args())
            products = outs["products"]
            if tracer is not None:
                t = time.perf_counter()
                products = _materialise(products)
                self.layer["pipeline.products_s"] = time.perf_counter() - t
                cached.append(products)
        with _span(tracer, "sinks"):
            t = time.perf_counter()
            sinks.merge_into_parquet(self.spark, out_dir, products, self.KEYS)
            t_write = time.perf_counter() - t
        with _span(tracer, "pipeline"):
            t = time.perf_counter()
            self.updates = outs["updates"].toPandas()
            t1 = time.perf_counter()
            self.match_stats = outs["match_stats"].toPandas()
            t2 = time.perf_counter()
        seconds = time.perf_counter() - t0
        self.out_dir = out_dir
        if tracer is not None:
            self.layer["sinks.write_s"] = t_write
            self.layer["pipeline.updates_s"] = t1 - t
            self.layer["pipeline.match_stats_s"] = t2 - t1
            self._after.append(lambda: self._layer_counts(cascade))
        self._after += [df.unpersist for df in cached]
        return self.rows, seconds

    def _layer_counts(self, cascade) -> None:
        by = {
            (r["match_type"], r["upc_valid"]): r["count"]
            for r in cascade.groupBy("match_type", "upc_valid").count().collect()
        }
        upc = sum(n for (m, _), n in by.items() if m == "upc")
        valid = sum(n for (_, v), n in by.items() if v)
        name = sum(n for (m, _), n in by.items() if m == "similarity")
        fresh = sum(by.values())
        self.layer["matching.upc_hit_ratio"] = upc / valid if valid else 0.0
        self.layer["matching.name_hit_ratio"] = name / (fresh - upc) if fresh > upc else 0.0
        self.layer["matching.generated_rows"] = float(fresh - upc - name)

    def check(self) -> tuple[int, int]:
        n, failed = reference.check_grocery(
            self.inputs, self.out_dir, self.updates, self.match_stats
        )
        self.layer["sinks.dup_key_rows"] = float(_dup_keys(self.out_dir + "/*.parquet", "article_id"))
        return n, failed


def _dup_keys(glob: str, key: str) -> int:
    import duckdb

    with duckdb.connect() as con:
        return int(con.execute(
            f"SELECT count(*) - count(DISTINCT {key}) FROM read_parquet('{glob}')"
        ).fetchone()[0])


class MenuMatch(Workload):
    """read_binary_assets -> mini_pdf_text -> parse items ->
    hash_embedding_expr -> cosine_topk(k=1) -> enrich() for the misses."""

    name = "menu_match"
    min_passes = 3
    OUTPUT_FIELDS = [
        T.StructField(f, T.StringType(), True)
        for f in ("gen_name", "gen_description", "gen_brand", "gen_category", "gen_subcategory")
    ]

    def prepare(self) -> None:
        self.pdf_dir = os.path.join(self.inputs, "menus")
        self.corpus = self.spark.read.parquet(os.path.join(self.inputs, "corpus.parquet"))
        self.rows = gen.MENU_PDFS * gen.MENU_ITEMS_PER_PDF
        self.layer["readers.rows"] = float(gen.MENU_PDFS)

    @staticmethod
    def _items(pages):
        """Menu page text -> one row per ``name | category | price`` line."""
        lines = pages.where(F.col("page_text").isNotNull()).select(
            F.regexp_extract("asset_id", r"menu_(\d+)\.pdf", 1).cast("long").alias("menu"),
            "page_index",
            F.posexplode(F.split("page_text", "\n")).alias("line", "text"),
        )
        parts = F.split("text", r" \| ")
        return lines.select(
            # the key gen.menu_item_id gives the reference's items
            (F.col("menu") * 1000 + F.col("page_index") * 100 + F.col("line")).alias("item_id"),
            parts[0].alias("product_name"),
            parts[1].alias("category"),
            parts[2].cast("double").alias("price"),
        )

    def run_pass(self, tracer) -> tuple[int, float]:
        log_dir = os.path.join(self._pass_dir(), "calls")
        os.makedirs(log_dir)
        cached = []
        t0 = time.perf_counter()
        with _span(tracer, "readers"):
            assets = readers.read_binary_assets(self.spark, self.pdf_dir)
            if tracer is not None:
                assets = _materialise(assets)
                cached.append(assets)
        with _span(tracer, "multimodal"):
            pages = mini_pdf_text(assets)
            items = self._items(pages)
            if tracer is not None:
                pages = _materialise(pages)
                items = _materialise(items)
                cached += [pages, items]
        with _span(tracer, "similarity"):
            queries = items.select(
                "item_id", hash_embedding_expr("product_name", gen.MENU_DIM).alias("embedding")
            )
            t = time.perf_counter()
            top = similarity.cosine_topk(
                queries, self.corpus, query_id="item_id", query_vec="embedding",
                corpus_id="vec_id", corpus_vec="embedding", k=1,
                min_score=reference.MENU_MIN_SCORE, exclude_self=False,
            )
            t_collect = time.perf_counter() - t
            self.matches = top.toPandas()
        with _span(tracer, "enrichment"):
            hits = self.spark.createDataFrame(
                [(int(i),) for i in self.matches["query_id"]], "item_id long"
            )
            misses = items.join(F.broadcast(hits), "item_id", "left_anti").select(
                "item_id", "product_name"
            )
            # one row per call, not the framework's default of 30: a call
            # fails when any of its rows is scheduled to fail, and which rows
            # share a call depends on Spark's partitioning, so only 1-row
            # calls leave every row's outcome to the reference's schedule
            self.enriched = enrich(
                misses,
                standin.StandInFactory(
                    log_dir, gen.MENU_FAIL_ONCE_SHARE, gen.MENU_FAIL_ALWAYS_SHARE
                ),
                self.OUTPUT_FIELDS,
                content_fallback_row,
                EnrichConfig(micro_batch_size=1, max_retries=3),
            ).toPandas()
        seconds = time.perf_counter() - t0
        if tracer is not None:
            self.layer["similarity.query_collect_s"] = t_collect
            self._after.append(lambda: self._layer_counts(pages, log_dir))
        self._after += [df.unpersist for df in cached]
        return self.rows, seconds

    def _layer_counts(self, pages, log_dir: str) -> None:
        r = pages.agg(
            F.count("page_text").alias("pages"), F.count("decode_error").alias("errors")
        ).first()
        self.layer["multimodal.pages"] = float(r["pages"])
        self.layer["multimodal.decode_errors"] = float(r["errors"])
        n_q = self.rows
        self.layer["similarity.pairs_scored"] = float(n_q * gen.MENU_CORPUS)
        self.layer["similarity.hit_ratio"] = len(self.matches) / n_q
        calls = standin.read_call_log(log_dir)
        n_rows = len(self.enriched)
        busy = sum(e - s for s, e, _, _ in calls)
        window = max(e for _, e, _, _ in calls) - min(s for s, _, _, _ in calls) if calls else 0.0
        self.layer["enrichment.calls"] = float(len(calls))
        self.layer["enrichment.retries"] = float(len(calls) - n_rows)
        self.layer["enrichment.fallback_ratio"] = (
            float(self.enriched["enrich_error"].notna().sum()) / n_rows if n_rows else 0.0
        )
        self.layer["enrichment.in_flight_mean"] = busy / window if window else 0.0
        self.layer["enrichment.backend_busy_s"] = busy

    def check(self) -> tuple[int, int]:
        m = self.matches.rename(columns={"query_id": "item_id"})
        return reference.check_menu(self.inputs, m, self.enriched)


DELTA_SCHEMA = T.StructType(
    [
        T.StructField("product_id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("qty", T.IntegerType()),
        T.StructField("updated_seq", T.LongType()),
    ]
)


# the phases of a micro-batch trigger that run before the sink is called
BEFORE_ADD_BATCH = ("latestOffset", "walCommit", "getBatch", "queryPlanning")


def _iso_to_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class CatalogDelta(Workload):
    """write_merge_target (set-up) -> file_arrival_stream(max 1 file per
    trigger) -> foreach_batch_cdc_apply, drained with AvailableNow."""

    name = "catalog_delta"
    KEYS = ["product_id"]

    def prepare(self) -> None:
        self.pristine = os.path.join(self.run_dir, "pristine")
        target = self.spark.read.parquet(os.path.join(self.inputs, "target.parquet"))
        sinks.write_merge_target(target, self.pristine, self.KEYS)
        with open(os.path.join(self.pristine, "_bucket_spec.json")) as fh:
            self.n_buckets = json.load(fh)["n_buckets"]
        self.rows = gen.DELTA_FILES * gen.DELTA_ROWS_PER_FILE
        self.batches: list[float] = []

    def warm_up(self) -> None:
        self._drain(os.path.join(self.inputs, "warmup"), None)

    def run_pass(self, tracer) -> tuple[int, float]:
        progress, seconds = self._drain(os.path.join(self.inputs, "landing"), tracer)
        self.batches += [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
        if tracer is not None:
            self._after.append(lambda: self._layer_counts(progress))
        return self.rows, seconds

    def batch_times(self) -> list[float]:
        return list(self.batches)

    def _drain(self, landing: str, tracer) -> tuple[list[dict], float]:
        d = self._pass_dir()
        self.target = os.path.join(d, "target")
        shutil.copytree(self.pristine, self.target)
        t0 = time.perf_counter()
        with _span(tracer, "streaming") as sp:
            stream = jobs.file_arrival_stream(
                self.spark, landing, DELTA_SCHEMA, max_files_per_trigger=1
            )
            self.started = time.time()
            # every delta row is an update or insert; the latest updated_seq
            # of a key in a micro-batch wins. foreach_batch_upsert would keep
            # every row of a key that a file repeats (a defect, see README)
            q = jobs.foreach_batch_cdc_apply(
                stream.withColumn("op", F.lit("U")), self.target, self.KEYS,
                ["updated_seq"], os.path.join(d, "checkpoint"))
        seconds = time.perf_counter() - t0
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if tracer is not None:
            self._sink_spans(tracer, sp, progress)
        return progress, seconds

    @staticmethod
    def _sink_spans(tracer, parent: dict, progress: list[dict]) -> None:
        """The sink runs inside the streaming query, out of reach of a
        benchmark-side span: one child span per micro-batch is recorded
        from the query's progress. A trigger finds the offsets, logs them,
        plans the batch and then calls the sink, so the sink starts that
        long after the trigger and runs for ``addBatch``."""
        offset = parent["start"] - parent["wall_start"]
        for p in progress:
            ms = p["durationMs"]
            before = sum(ms.get(k, 0) for k in BEFORE_ADD_BATCH) / 1e3
            start = _iso_to_epoch(p["timestamp"]) + before + offset
            tracer.spans.append({
                "id": len(tracer.spans), "name": "sinks", "parent": parent["id"],
                "run_id": tracer.run_id, "group": None, "source": "progress",
                "start": start, "end": start + p["durationMs"]["addBatch"] / 1e3,
                "wall_start": start - offset,
                "wall_end": start - offset + p["durationMs"]["addBatch"] / 1e3,
            })

    def _layer_counts(self, progress: list[dict]) -> None:
        add = [p["durationMs"]["addBatch"] / 1e3 for p in progress]
        trig = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
        self.layer["streaming.batches"] = float(len(progress))
        self.layer["streaming.add_batch_p50_s"] = statistics.median(add)
        self.layer["streaming.trigger_overhead_p50_s"] = statistics.median(
            t - a for t, a in zip(trig, add)
        )
        self.layer["streaming.start_s"] = _iso_to_epoch(progress[0]["timestamp"]) - self.started
        self.layer["sinks.write_s"] = sum(add)

    def check(self) -> tuple[int, int]:
        n, failed, dup = reference.check_delta(self.inputs, self.target)
        self.layer["sinks.dup_key_rows"] = float(dup)
        return n, failed


WORKLOADS = {w.name: w for w in (GroceryOnboard, MenuMatch, CatalogDelta)}
