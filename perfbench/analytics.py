"""warehouse_analytics: what the warehouse's consumers run.

Set-up writes a seeded TPC-H-shaped star schema and seeds a Sendo
warehouse (the etl workload's catalogue as of day 1) through
``sinks.upsert.upsert_parquet``.  Each timed operation is one pass of an analytic mix in
an order shuffled by the seed: catalog queries over the star schema,
and rollups over the warehouse snapshots read back through
``read_parquet_table``.  Nothing is written while timing.

Every catalog query must hash-match its DuckDB oracle once in set-up,
and every timed result must match that first result.  The rollups must
match a DuckDB recompute over the generator's rows.
"""

from __future__ import annotations

import hashlib
import math
import os
import time
from decimal import Decimal

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from etl_tiki_webscraping_spark.plans import catalog
from etl_tiki_webscraping_spark.schemas import PRIMARY_KEYS
from etl_tiki_webscraping_spark.sinks import upsert

from perfbench import etl
from perfbench.gen import SendoWorld, query_order, tpch_tables
from perfbench.measure import OpResult
from perfbench.trace import maybe_span

SF = 0.01  # lineitem ~60k rows
# The reference's union/dedup/semi-join rollup, a star join with
# broadcast dimensions, TPC-H scan, join, top-k and subquery shapes, and
# a window top-k per group.  Each costs 0.4-1.5 s on 4 cores, mostly
# fixed per-query overhead.
CATALOG = ("flagship", "star_join_rollup", "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q9", "tpch_q18",
           "window_topk_per_group")
# rollup -> the warehouse tables it reads
ROLLUPS = {"ratings_by_shop_month": ("rating", "shop_info"), "prices_by_shop": ("product_detail", "shop_info")}


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, Decimal):
        return f"{float(v):.9g}"
    return str(v)  # dates and timestamps as ISO text


def result_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: floats and decimals to 9
    significant digits, dates and timestamps as text."""
    h = hashlib.md5(",".join(columns).encode())
    for line in sorted("|".join(_norm(v) for v in r) for r in rows):
        h.update(line.encode() + b"\n")
    return h.hexdigest()


def rollup(spark, warehouse: str, name: str):
    """A warehouse consumer's query over the sink's snapshot tables."""
    def table(t):
        return upsert.read_parquet_table(spark, os.path.join(warehouse, t))

    shops = table("shop_info").select("shop_id", "score")
    if name == "ratings_by_shop_month":
        return (table("rating").join(shops, "shop_id")
                .groupBy("shop_id", "score", F.date_format("update_time", "yyyy-MM").alias("month"))
                .agg(F.count(F.lit(1)).alias("ratings"), F.sum("star").alias("stars")))
    return (table("product_detail").join(shops, "shop_id").groupBy("shop_id", "score")
            .agg(F.count(F.lit(1)).alias("products"), F.sum("price").alias("price_sum"),
                 F.max("price").alias("price_max")))


ROLLUP_ORACLE = {
    "ratings_by_shop_month": """
        SELECT r.shop_id, s.score, strftime(CAST(NULLIF(r.update_time, '') AS DATE), '%Y-%m') AS month,
               COUNT(*) AS ratings, SUM(r.star) AS stars
        FROM rating r JOIN shop_info s USING (shop_id) GROUP BY ALL""",
    "prices_by_shop": """
        SELECT p.shop_id, s.score, COUNT(*) AS products, SUM(p.price) AS price_sum, MAX(p.price) AS price_max
        FROM product_detail p JOIN shop_info s USING (shop_id) GROUP BY ALL""",
}


class WarehouseAnalytics:
    name = "warehouse_analytics"

    def __init__(self, spark, seed: int, workdir: str):
        self.spark = spark
        self.seed = seed
        self.world = SendoWorld(seed=seed, **etl.WORLD)
        self.star = os.path.join(workdir, "star")
        self.warehouse = os.path.join(workdir, "warehouse")
        self.order = query_order(seed, [*CATALOG, *ROLLUPS])
        self.truth: dict[str, str] = {}  # query -> result hash every run must match
        self.input_rows: dict[str, int] = {}  # query -> rows of the tables it reads
        self.tracer = None  # set by the traced run

    def _seed_warehouse(self) -> dict:
        """Upsert the day-1 Sendo catalogue; return its rows as
        DuckDB-ready pandas frames."""
        exp = etl.expected_tables(self.world.at(1))
        frames = {
            "shop_info": exp["shop_info"][["shop_id", "score"]],
            "product_detail": exp["product_detail"][["product_id", "shop_id", "price"]],
            "rating": exp["rating"][["rating_id", "shop_id", "star", "update_time"]],
        }
        for t, pdf in frames.items():
            df = self.spark.createDataFrame(pdf)
            for c in ("score", "price"):
                if c in pdf:
                    df = df.withColumn(c, (F.col(c).cast("decimal(15,0)") / 100).cast("decimal(15,2)"))
            if t == "rating":
                df = df.withColumn("star", F.col("star").cast("int")).withColumn(
                    "update_time", F.to_date(F.nullif(F.col("update_time"), F.lit("")), "yyyy-MM-dd"))
            upsert.upsert_parquet(self.spark, df, os.path.join(self.warehouse, t), PRIMARY_KEYS[t])
        for c, t in (("score", "shop_info"), ("price", "product_detail")):
            frames[t] = frames[t].assign(**{c: frames[t][c] / 100})
        return frames

    def _run(self, name: str):
        """Run one query to completion; return (columns, rows)."""
        with maybe_span(self.tracer, f"plans.catalog.{name}" if name in CATALOG else f"rollup.{name}") as sp:
            if name in ROLLUPS:
                df = rollup(self.spark, self.warehouse, name)
            else:
                df = catalog.QUERIES[name].fn(self.spark, self.star)
            rows = df.collect()
            if sp is not None:
                sp.attrs["rows"] = len(rows)
        self.spark.catalog.clearCache()
        return df.columns, rows

    def setup(self) -> list[str]:
        tables = tpch_tables(self.seed, SF)
        os.makedirs(self.star)
        con = duckdb.connect()
        for t, arrow in tables.items():
            path = os.path.join(self.star, f"{t}.parquet")
            pq.write_table(arrow, path)
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        frames = self._seed_warehouse()
        for t, pdf in frames.items():
            con.register(t, pdf)

        failures = []
        loaded: list[str] = []  # the star tables the current catalog query reads
        load = catalog.load_table

        def counting_load(spark, sf_dir, t):
            loaded.append(t)
            return load(spark, sf_dir, t)

        catalog.load_table = counting_load
        try:
            for name in (*CATALOG, *ROLLUPS):
                loaded.clear()
                cols, rows = self._run(name)
                self.truth[name] = result_hash(cols, rows)
                sql = catalog.QUERIES[name].oracle if name in CATALOG else ROLLUP_ORACLE[name]
                cur = con.execute(sql)
                ocols = [d[0] for d in cur.description]
                if sorted(ocols) != sorted(cols):
                    failures.append(f"{name}: columns {cols} differ from its DuckDB oracle's {ocols}")
                elif result_hash(cols, [[r[ocols.index(c)] for c in cols] for r in cur.fetchall()]) \
                        != self.truth[name]:
                    failures.append(f"{name}: result does not match its DuckDB oracle")
                if name in ROLLUPS:
                    self.input_rows[name] = sum(len(frames[t]) for t in ROLLUPS[name])
                else:
                    self.input_rows[name] = sum(tables[t].num_rows for t in set(loaded))
        finally:
            catalog.load_table = load
        return failures

    def op(self) -> OpResult:
        failures, rows = [], 0
        with maybe_span(self.tracer, "perfbench.op"):
            t0 = time.perf_counter()
            for name in next(self.order):
                cols, out = self._run(name)
                rows += self.input_rows[name]
                if result_hash(cols, out) != self.truth[name]:
                    failures.append(f"{name}: result differs from the checked set-up result")
            seconds = time.perf_counter() - t0
        share = 1 - len(failures) / (len(CATALOG) + len(ROLLUPS))
        return OpResult(seconds, rows, share, share, failures)
