"""etl_daily_load: the reference's own traffic.

Set-up seeds a warehouse with the day-0 scrape.  Each timed operation
is the next day's full re-scrape plus FK-ordered primary-key upsert,
one ``plans.pipeline.run_pipeline`` call against Sendo-shaped fake
fetchers.  After every load the warehouse is read back and compared
with what the generator says it must now hold.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from etl_tiki_webscraping_spark.plans import pipeline
from etl_tiki_webscraping_spark.sinks.upsert import read_parquet_table
from etl_tiki_webscraping_spark.sources.http import FetchConfig

from perfbench.gen import SendoWorld
from perfbench.measure import OpResult
from perfbench.trace import maybe_span

# 8k products, 400 shops, ~16k ratings per day: the reference's 100k /
# 5k / 200k daily traffic scaled down to fit three workloads into the
# run budget.  Warm loads on 4 cores take ~6 s at 4k products, ~9 s at
# 16k and ~15 s at 64k: ~5.5 s of per-job overhead that does not shrink
# with the data, plus 0.04-0.07 ms per row landed.
WORLD = {"products": 8_000, "shops": 400, "ratings_per_shop": 40}
TABLES = ("shop_info", "product_detail", "rating")
# a failed page is retried after 0.1 s (the package default waits 1 s)
FETCH = FetchConfig(backoff_seconds=0.1)


def expected_tables(world: SendoWorld) -> dict:
    """What the warehouse must hold after the load of ``world.day``."""
    i = np.arange(world.n_products(), dtype=np.int64)
    pv = world.product_values(i)
    live = pv["shop"] >= 0
    shops = np.unique(pv["shop"][live])
    sv = world.shop_values(shops)
    k, j = world.rating_keys(shops)
    rv = world.rating_values(k, j)
    rid = k * (1 << 20) + j
    dates = (np.datetime64("2021-01-01") + rv["date_num"].astype("timedelta64[D]")).astype(str)
    return {
        "product_detail": pd.DataFrame({
            "product_id": "p" + pd.Series(i[live]).astype(str),
            "shop_id": "s" + pd.Series(pv["shop"][live]).astype(str),
            "price": pv["price"][live],
            "changed": pv["version"][live] == world.day,
        }),
        "shop_info": pd.DataFrame({
            "shop_id": "s" + pd.Series(shops).astype(str),
            "score": sv["score"],
            "changed": sv["version"] == world.day,
        }),
        "rating": pd.DataFrame({
            "rating_id": "r" + pd.Series(rid).astype(str),
            "shop_id": "s" + pd.Series(k).astype(str),
            "star": rv["star"],
            "update_time": np.where(rv["bad_date"], "", dates),
            "changed": rv["version"] == world.day,
            "bad_date": rv["bad_date"],
        }),
        "dropped": int((~live).sum()),
    }


KEY_COLS = {
    "product_detail": ["product_id", "shop_id", "price"],
    "shop_info": ["shop_id", "score"],
    "rating": ["rating_id", "shop_id", "star", "update_time"],
}


def check_load(world: SendoWorld, landed: dict[str, pd.DataFrame], result) -> tuple[list[str], int, int, int]:
    """Compare the warehouse with the generator's expectation.

    Returns (failures, matched rows, expected rows, landed rows); a
    landed row matches when its key and checked values equal the
    expected row's.
    """
    exp = expected_tables(world)
    failures: list[str] = []
    got = (result.products, result.shops, result.ratings, result.products_dropped_by_fk)
    want = (len(exp["product_detail"]), len(exp["shop_info"]), len(exp["rating"]), exp["dropped"])
    if got != want:
        failures.append(f"day {world.day}: counts (products, shops, ratings, fk drops) {got} != {want}")
    shop_ids = set(landed["shop_info"]["shop_id"])
    for t in ("product_detail", "rating"):
        orphans = (~landed[t]["shop_id"].isin(shop_ids)).sum()
        if orphans:
            failures.append(f"day {world.day}: {orphans} {t} rows reference a shop missing from shop_info")
    matched = n_exp = n_got = 0
    for t, cols in KEY_COLS.items():
        e, g = exp[t], landed[t][cols].drop_duplicates()
        both = e.merge(g, on=cols, how="inner")
        matched += len(both)
        n_exp += len(e)
        n_got += len(landed[t])
        if len(both) != len(e) or len(g) != len(landed[t]) or len(both) != len(g):
            failures.append(f"day {world.day}: {t}: {len(e) - len(both)} expected rows missing or wrong, "
                            f"{len(landed[t]) - len(both)} landed rows unexpected")
        stale = e["changed"].sum() - both["changed"].sum()
        if stale:
            failures.append(f"day {world.day}: {t}: {stale} churned keys lack that day's values")
    bad = exp["rating"].loc[exp["rating"]["bad_date"], "rating_id"]
    parsed = landed["rating"].loc[landed["rating"]["rating_id"].isin(bad) & (landed["rating"]["update_time"] != "")]
    if len(parsed):
        failures.append(f"day {world.day}: {len(parsed)} malformed dates were not nulled")
    return failures, matched, n_exp, n_got


class EtlDailyLoad:
    name = "etl_daily_load"

    def __init__(self, spark, seed: int, workdir: str):
        self.spark = spark
        self.world = SendoWorld(seed=seed, **WORLD)
        self.warehouse = os.path.join(workdir, "warehouse")
        self.day = 0
        self.tracer = None  # both set by the traced run
        self.fetch_stats = None

    def read_back(self) -> dict[str, pd.DataFrame]:
        def table(name):
            return read_parquet_table(self.spark, os.path.join(self.warehouse, name))

        return {
            "product_detail": table("product_detail").select(
                "product_id", "shop_id", (F.col("price") * 100).cast("long").alias("price")).toPandas(),
            "shop_info": table("shop_info").select(
                "shop_id", (F.col("score") * 100).cast("long").alias("score")).toPandas(),
            "rating": table("rating").select(
                "rating_id", "shop_id", F.col("star").cast("long").alias("star"),
                F.coalesce(F.date_format("update_time", "yyyy-MM-dd"), F.lit("")).alias("update_time"),
            ).toPandas(),
        }

    def _load(self, day: int) -> OpResult:
        world = self.world.at(day)
        with maybe_span(self.tracer, "perfbench.op"):
            t0 = time.perf_counter()
            result = pipeline.run_pipeline(self.spark, world.fetchers(self.fetch_stats), self.warehouse, FETCH)
            seconds = time.perf_counter() - t0
        failures, matched, n_exp, n_got = check_load(world, self.read_back(), result)
        self.spark.catalog.clearCache()
        rows = result.products + result.shops + result.ratings
        return OpResult(seconds, rows, matched / max(n_exp, 1), matched / max(n_got, 1), failures)

    def setup(self) -> list[str]:
        return self._load(0).failures

    def op(self) -> OpResult:
        self.day += 1
        return self._load(self.day)

    def user_bytes(self) -> tuple[int, dict[str, tuple[int, int]]]:
        """Arrow bytes of the live rows per table, and rows per table."""
        per = {}
        for t in TABLES:
            arrow = read_parquet_table(self.spark, os.path.join(self.warehouse, t)).toArrow()
            per[t] = (arrow.nbytes, arrow.num_rows)
        return sum(b for b, _ in per.values()), per

    def changed_rows(self, day: int) -> dict[str, int]:
        """Rows the load of ``day`` had to change or add, per table."""
        exp = expected_tables(self.world.at(day))  # a new key's version is its birth day
        return {t: int(exp[t]["changed"].sum()) for t in TABLES}
