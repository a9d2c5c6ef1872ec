"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed`` (plus a day number for
the Sendo world), so the same seed always yields the same inputs and
the expected outputs the checks compare against.  The program under
test receives only what these generators produce: fake fetchers and a
review-comment corpus.

The fetcher objects are instances of module-level classes, so Python
workers unpickle them by importing this module; they recompute their
rows from ``(seed, day, key, page)`` instead of shipping data.
"""

from __future__ import annotations

import random
import time
import zlib
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np

_MASK = (1 << 64) - 1
_GOLD = np.uint64(0x9E3779B97F4A7C15)

# hash-stream tags: one per independent random property
(_T_DEAD, _T_SHOP, _T_CHG, _T_PRICE, _T_DISC, _T_NR, _T_SCORE, _T_STAR, _T_BAD,
 _T_DATE, _T_FLAKY) = range(1, 12)


def hash64(seed: int, tag: int, ids, day: int = 0) -> np.ndarray:
    """splitmix64 of (seed, tag, day, id), vectorised over ``ids``."""
    salt = np.uint64((seed * 0x100000001B3 + tag * 0x51ED27 + day * 0x2545F491) & _MASK)
    x = np.asarray(ids, dtype=np.uint64) * _GOLD + salt
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _pct(seed: int, tag: int, ids, day: int = 0) -> np.ndarray:
    return (hash64(seed, tag, ids, day) % np.uint64(10_000)).astype(np.int64) / 100.0


def _cents(c: int) -> Decimal:
    return Decimal(int(c)).scaleb(-2)


# ---------------------------------------------------------------------------
# Sendo-shaped world: products, shops and ratings that churn day by day
# ---------------------------------------------------------------------------

WORDS = (
    "hang dep giao nhanh dong goi can than chat luong tot san pham dung mo ta "
    "shop tu van nhiet tinh gia re se ung ho lan sau vai mem mau sac dep "
    "kich thuoc vua giao hang cham hoi that vong ao quan giay dep tui xach "
    "dien thoai op lung sac cap tai nghe my pham son kem duong da"
).split()


# Shape of the Sendo catalogue; only its sizes vary (see SendoWorld).
CATEGORIES = 8
SUBCATEGORIES = 8
PRODUCT_PAGE = 1_000  # products per listing page
RATING_PAGE = 100  # ratings per page
CHURN_PCT = 10.0  # % of existing keys whose values change each day
NEW_PCT = 2  # % new products, shops and ratings each day
DEAD_PCT = 1.0  # % of products whose shop lookup fails (FK drop)
BAD_DATE_PCT = 2.0  # % of ratings with a malformed dd/MM/yyyy date
FLAKY_PCT = 0.5  # % of pages whose first request fails


@dataclass(frozen=True)
class SendoWorld:
    """A seeded Sendo catalogue as of ``day``.

    Day 0 has ``products`` products spread over ``shops`` shops and
    about ``ratings_per_shop`` ratings per shop.  Each later day adds
    ``NEW_PCT`` % new products, shops and ratings and changes the values
    of ``CHURN_PCT`` % of existing keys.  ``DEAD_PCT`` % of products
    point at a shop whose detail lookup always fails (an FK drop), and
    ``BAD_DATE_PCT`` % of ratings carry a malformed ``dd/MM/yyyy`` date.
    The first request for ``flaky_pct`` % of pages fails with a
    ``ConnectionError``, so the source's retry path runs.
    """

    seed: int
    products: int
    shops: int
    ratings_per_shop: int
    day: int = 0
    flaky_pct: float = FLAKY_PCT

    def at(self, day: int) -> "SendoWorld":
        return SendoWorld(**{**self.__dict__, "day": day})

    # --- sizes ---------------------------------------------------------
    @property
    def n_pairs(self) -> int:
        return CATEGORIES * SUBCATEGORIES

    @property
    def new_products_per_day(self) -> int:
        return self.products * NEW_PCT // 100

    @property
    def new_shops_per_day(self) -> int:
        return self.shops * NEW_PCT // 100

    def n_products(self, day: int | None = None) -> int:
        return self.products + (self.day if day is None else day) * self.new_products_per_day

    # --- products (id i lives in pair i % n_pairs) ----------------------
    def product_birth(self, i: np.ndarray) -> np.ndarray:
        return np.where(i < self.products, 0, (i - self.products) // max(self.new_products_per_day, 1) + 1)

    def product_shop(self, i: np.ndarray) -> np.ndarray:
        """Shop number per product; negative numbers are dead shops."""
        i = np.asarray(i, dtype=np.int64)
        birth = self.product_birth(i)
        rank = np.where(i < self.products, -1, (i - self.products) % max(self.new_products_per_day, 1))
        # the first products born on a day each bring one new shop
        opens_shop = (rank >= 0) & (rank < self.new_shops_per_day)
        new_shop = self.shops + (birth - 1) * self.new_shops_per_day + rank
        pool = self.shops + birth * self.new_shops_per_day
        old_shop = (hash64(self.seed, _T_SHOP, i) % pool.astype(np.uint64)).astype(np.int64)
        n_dead = max(1, self.shops // 100)
        dead = ~opens_shop & (_pct(self.seed, _T_DEAD, i) < DEAD_PCT)
        dead_shop = -1 - (hash64(self.seed, _T_DEAD + 100, i) % np.uint64(n_dead)).astype(np.int64)
        return np.where(opens_shop, new_shop, np.where(dead, dead_shop, old_shop))

    def version(self, tag: int, keys: np.ndarray, birth: np.ndarray) -> np.ndarray:
        """Last day (<= self.day) on which each key's values changed."""
        v = birth.copy()
        for d in range(1, self.day + 1):
            hit = (birth < d) & (_pct(self.seed, tag, keys, d) < CHURN_PCT)
            v[hit] = d
        return v

    def product_values(self, i: np.ndarray) -> dict[str, np.ndarray]:
        i = np.asarray(i, dtype=np.int64)
        v = self.version(_T_CHG, i, self.product_birth(i))
        price = 1_000 + (hash64(self.seed, _T_PRICE, i, 0) % np.uint64(500_000)).astype(np.int64)
        price = price + v * 100  # a changed product moves its price
        disc = (hash64(self.seed, _T_DISC, i, 0) % np.uint64(50)).astype(np.int64)
        final = price * (100 - disc) // 100
        return {"version": v, "price": price, "price_max": price * 2, "final_price": final,
                "final_price_max": final * 2, "shop": self.product_shop(i)}

    def product_ids(self, p: int, page: int) -> np.ndarray:
        ids = np.arange(p, self.n_products(), self.n_pairs, dtype=np.int64)
        return ids[(page - 1) * PRODUCT_PAGE: page * PRODUCT_PAGE]

    # --- shops -----------------------------------------------------------
    def shop_birth(self, k: np.ndarray) -> np.ndarray:
        k = np.asarray(k, dtype=np.int64)
        return np.where(k < self.shops, 0, (k - self.shops) // max(self.new_shops_per_day, 1) + 1)

    def shop_values(self, k: np.ndarray) -> dict[str, np.ndarray]:
        k = np.asarray(k, dtype=np.int64)
        v = self.version(_T_CHG + 100, k, self.shop_birth(k))
        score = 100 + (hash64(self.seed, _T_SCORE, k, 0) % np.uint64(400)).astype(np.int64)
        return {"version": v, "score": score + v, "rating_count": self.n_ratings(k)}

    # --- ratings (id r = shop * 2^20 + j) --------------------------------
    def n_ratings(self, k: np.ndarray) -> np.ndarray:
        k = np.asarray(k, dtype=np.int64)
        base = 1 + (hash64(self.seed, _T_NR, k) % np.uint64(2 * self.ratings_per_shop - 1)).astype(np.int64)
        age = self.day - self.shop_birth(k)
        return base + base * age * NEW_PCT // 100

    def rating_birth(self, k: np.ndarray, j: np.ndarray) -> np.ndarray:
        """First day rating j of shop k exists (inverse of n_ratings)."""
        base = 1 + (hash64(self.seed, _T_NR, k) % np.uint64(2 * self.ratings_per_shop - 1)).astype(np.int64)
        born = self.shop_birth(k)
        extra = np.maximum(j + 1 - base, 0)
        # smallest age with base*age*NEW_PCT//100 >= extra
        age = -(-extra * 100 // (base * NEW_PCT))
        return born + age

    def rating_values(self, k: np.ndarray, j: np.ndarray) -> dict[str, np.ndarray]:
        k = np.asarray(k, dtype=np.int64)
        j = np.asarray(j, dtype=np.int64)
        rid = k * (1 << 20) + j
        v = self.version(_T_CHG + 200, rid, self.rating_birth(k, j))
        star = 1 + (hash64(self.seed, _T_STAR, rid, 0) + v.astype(np.uint64)) % np.uint64(5)
        bad = _pct(self.seed, _T_BAD, rid) < BAD_DATE_PCT
        day_num = (hash64(self.seed, _T_DATE, rid) % np.uint64(1_000)).astype(np.int64)
        return {"version": v, "star": star.astype(np.int64), "bad_date": bad, "date_num": day_num}

    def rating_keys(self, shops: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        n = self.n_ratings(shops)
        k = np.repeat(shops, n)
        starts = np.repeat(np.cumsum(n) - n, n)
        return k, np.arange(len(k), dtype=np.int64) - starts

    # --- fetchers --------------------------------------------------------
    def sitemap(self) -> list[dict]:
        return [
            {"url_key": f"cat{c}", "child": [{"url_key": f"sub{s}"} for s in range(SUBCATEGORIES)]}
            for c in range(CATEGORIES)
        ]

    def fetchers(self, stats: "FetchStats | None" = None):
        from etl_tiki_webscraping_spark.plans.pipeline import PipelineFetchers

        return PipelineFetchers(
            sitemap=self.sitemap,
            product_page=ProductPage(self, stats),
            shop_detail=ShopDetail(self, stats),
            rating_page=RatingPage(self, stats),
        )


@dataclass(frozen=True)
class FetchStats:
    """Spark accumulators the fetchers add to on the workers: seconds
    spent inside fetcher calls, non-empty pages, rows returned and
    failed requests."""

    fetch_s: object
    pages: object
    rows: object
    retries: object

    @classmethod
    def create(cls, sc) -> "FetchStats":
        return cls(sc.accumulator(0.0), sc.accumulator(0), sc.accumulator(0), sc.accumulator(0))

    def record(self, t0: float, rows: int) -> None:
        self.fetch_s.add(time.perf_counter() - t0)
        self.pages.add(1 if rows else 0)
        self.rows.add(rows)


def shop_id(k) -> str:
    return f"s{k}" if k >= 0 else f"dead{-k}"


def rating_date(date_num: int, bad: bool) -> str:
    if bad:
        return f"{32 + date_num % 60}/{1 + date_num % 12:02d}/2023"
    d = np.datetime64("2021-01-01") + np.timedelta64(int(date_num), "D")
    y, m, dd = str(d).split("-")
    return f"{dd}/{m}/{y}"


def comment_text(seed: int, rid: int, version: int) -> str:
    rng = random.Random(seed * 1_000_003 + rid * 31 + version)
    return " ".join(rng.choice(WORDS) for _ in range(6 + rid % 10))


@dataclass(frozen=True)
class _Paged:
    """A page fetcher whose first request for a few pages fails."""

    world: SendoWorld
    stats: FetchStats | None = None
    _failed: set = field(default_factory=set, compare=False)

    def __call__(self, row: dict, page: int, cfg) -> list[dict]:
        t0 = time.perf_counter()
        key = (tuple(row.values()), page)
        h = hash64(self.world.seed, _T_FLAKY, [zlib.crc32(repr(key).encode())], self.world.day)[0]
        if h % np.uint64(10_000) < self.world.flaky_pct * 100 and key not in self._failed:
            self._failed.add(key)
            if self.stats is not None:
                self.stats.retries.add(1)
            raise ConnectionError(f"fake {type(self).__name__} request failed: {key}")
        out = self._page(row, page)
        if self.stats is not None:
            self.stats.record(t0, len(out))
        return out


class ProductPage(_Paged):
    def _page(self, row: dict, page: int) -> list[dict]:
        w = self.world
        p = int(row["category"][3:]) * SUBCATEGORIES + int(row["sub_category"][3:])
        ids = w.product_ids(p, page)
        if len(ids) == 0:
            return []
        val = w.product_values(ids)
        return [
            {
                "product_id": f"p{i}",
                "name": f"san pham {i}",
                "category_path": f"{row['category']}/{row['sub_category']}/p{i}.html",
                "price": _cents(val["price"][n]),
                "price_max": _cents(val["price_max"][n]),
                "final_price": _cents(val["final_price"][n]),
                "final_price_max": _cents(val["final_price_max"][n]),
                "shop_id": shop_id(int(val["shop"][n])),
            }
            for n, i in enumerate(ids.tolist())
        ]


@dataclass(frozen=True)
class ShopDetail:
    world: SendoWorld
    stats: FetchStats | None = None

    def __call__(self, row: dict, cfg) -> dict | None:
        t0 = time.perf_counter()
        out = self._detail(row["shop_id"])
        if self.stats is not None:
            self.stats.record(t0, int(out is not None))
        return out

    def _detail(self, sid: str) -> dict | None:
        if sid.startswith("dead"):
            return None  # lookup fails: the shop's products are FK-dropped
        k = np.array([int(sid[1:])])
        val = self.world.shop_values(k)
        return {
            "shop_id": sid,
            "shop_name": f"shop {sid}",
            "good_review_percent": Decimal("95.50"),
            "score": _cents(val["score"][0]),
            "customer_id": f"c{sid}",
            "phone_number": "0900000000",
            "rating_avg": Decimal("4.50"),
            "rating_count": int(val["rating_count"][0]),
            "response_time": "1h",
            "product_total": 10,
            "sale_on_sendo": "yes",
            "time_prepare_product": "1d",
            "warehourse_region_name": "HCM",
        }


class RatingPage(_Paged):
    def _page(self, row: dict, page: int) -> list[dict]:
        w = self.world
        k = int(row["shop_id"][1:])
        n = int(w.n_ratings(np.array([k]))[0])
        j = np.arange((page - 1) * RATING_PAGE, min(page * RATING_PAGE, n), dtype=np.int64)
        if len(j) == 0:
            return []
        kk = np.full(len(j), k, dtype=np.int64)
        val = w.rating_values(kk, j)
        out = []
        for n_, jj in enumerate(j.tolist()):
            rid = k * (1 << 20) + jj
            out.append({
                "rating_id": f"r{rid}",
                "shop_id": row["shop_id"],
                "address": "Ha Noi",
                "star": int(val["star"][n_]),
                "comment": comment_text(w.seed, rid, int(val["version"][n_])),
                "status": "approved",
                "update_time": rating_date(int(val["date_num"][n_]), bool(val["bad_date"][n_])),
                "customer_id": f"u{rid % 9973}",
                "user_name": f"user {rid % 9973}",
                "product_name": f"san pham {jj}",
                "product_path": f"p{jj}.html",
                "price": _cents(1_000 + rid % 90_000),
            })
        return out


# ---------------------------------------------------------------------------
# Review-comment corpus with planted near-duplicates, junk and needles
# ---------------------------------------------------------------------------

_SYLLABLES = [c + v for c in "bcdghklmnpqrstvx" for v in ("a", "e", "i", "o", "u", "an", "ong", "uy")]
_STOP = ("the", "and", "of", "to", "in", "is", "it", "that", "for", "with")


@dataclass
class Corpus:
    """Documents plus the ground truth the checks measure against.

    ``should_remove`` holds every planted duplicate except the lowest id
    of its cluster; ``junk`` the documents the quality filter must drop;
    ``needles`` maps a query id to (doc id, query terms) where the terms
    occur in that document only.
    """

    ids: list[int]
    texts: list[str]
    should_remove: set[int]
    junk: set[int]
    needles: dict[int, tuple[int, list[str]]]


DUP_PCT = 8.0  # % of documents that are near-duplicates of another
JUNK_PCT = 2.0  # % of documents the quality filter must drop


def corpus(seed: int, docs: int, queries: int) -> Corpus:
    rng = random.Random(seed)
    vocab = [a + b for a in _SYLLABLES for b in _SYLLABLES[:24]]
    weights = [1.0 / (r + 1) for r in range(len(vocab))]

    def sentence(n: int) -> list[str]:
        words = rng.choices(vocab, weights, k=n)
        for p in range(0, n, 7):  # keep stopword ratio realistic
            words[p] = rng.choice(_STOP)
        return words

    n_junk = int(docs * JUNK_PCT / 100)
    n_dup = int(docs * DUP_PCT / 100)
    n_base = docs - n_junk - n_dup
    tokens: list[list[str]] = [sentence(rng.randint(40, 70)) for _ in range(n_base)]
    cluster_of = list(range(n_base))
    needle_rows = rng.sample(range(n_base), queries)
    needle_set = set(needle_rows)
    for q, row in enumerate(needle_rows):
        tokens[row][rng.randrange(len(tokens[row]))] = f"zq{seed % 97}x{q}a"
        tokens[row][rng.randrange(len(tokens[row]))] = f"zq{seed % 97}x{q}b"
    sources = [r for r in range(n_base) if r not in needle_set]
    for _ in range(n_dup):
        src = rng.choice(sources)
        copy = list(tokens[src])
        copy[rng.randrange(len(copy))] = rng.choice(vocab)  # one-word edit
        tokens.append(copy)
        cluster_of.append(cluster_of[src])
    texts = [" ".join(t).capitalize() + "." for t in tokens]
    texts += [rng.choice(("!!!", "ok ok", "?? ...", "hmm")) for _ in range(n_junk)]
    cluster_of += [-1] * n_junk

    ids = rng.sample(range(1, 10 * docs), docs)  # id order unrelated to position
    clusters: dict[int, list[int]] = {}
    for pos, c in enumerate(cluster_of):
        if c >= 0:
            clusters.setdefault(c, []).append(ids[pos])
    remove = {i for members in clusters.values() for i in members if i != min(members)}
    needles = {
        q: (ids[row], [f"zq{seed % 97}x{q}a", f"zq{seed % 97}x{q}b", "the"])
        for q, row in enumerate(needle_rows)
    }
    return Corpus(ids, texts, remove, {ids[p] for p in range(len(tokens), docs)}, needles)


# ---------------------------------------------------------------------------
# TPC-H-shaped star schema for the catalog queries
# ---------------------------------------------------------------------------

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PART_WORDS = ("blue", "red", "green", "small", "large", "steel", "anvil", "widget", "bolt", "ring")
_EPOCH = np.datetime64("1995-01-01", "us")
_DAY = np.timedelta64(86_400_000_000, "us")


def tpch_tables(seed: int, sf: float) -> dict:
    """The star-schema tables the catalog queries read, as pyarrow
    tables with the column names and types the catalog expects, at
    TPC-H scale factor ``sf`` (lineitem has about 6M x sf rows)."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_c, n_s, n_p, n_o = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf), int(1_500_000 * sf)

    def cents(lo: int, hi: int, n: int) -> np.ndarray:
        return rng.integers(lo, hi, n) / 100.0

    def names(prefix: str, n: int) -> list[str]:
        return [f"{prefix}#{k:09d}" for k in range(n)]

    pick = lambda options, n: np.asarray(options, dtype=object)[rng.integers(0, len(options), n)]
    i32 = lambda a: pa.array(a, pa.int32())
    lines = rng.integers(1, 8, n_o)
    l_order = np.repeat(np.arange(n_o), lines)
    n_l = len(l_order)
    o_date = _EPOCH + rng.integers(0, 2_400, n_o) * _DAY
    p_price = 900 + (np.arange(n_p) % 1_000) / 10
    l_part = rng.integers(0, n_p, n_l)
    qty = rng.integers(1, 51, n_l).astype(float)
    part_words = rng.integers(0, len(_PART_WORDS), (n_p, 2))
    return {
        "region": pa.table({"r_regionkey": i32(np.arange(5)), "r_name": list(_REGIONS)}),
        "nation": pa.table({"n_nationkey": i32(np.arange(25)), "n_name": [f"NATION_{k}" for k in range(25)],
                            "n_regionkey": i32(np.arange(25) % 5)}),
        "customer": pa.table({"c_custkey": np.arange(n_c), "c_name": names("Customer", n_c),
                              "c_nationkey": i32(rng.integers(0, 25, n_c)), "c_acctbal": cents(-99_999, 999_999, n_c),
                              "c_mktsegment": pick(_SEGMENTS, n_c)}),
        "supplier": pa.table({"s_suppkey": np.arange(n_s), "s_name": names("Supplier", n_s),
                              "s_nationkey": i32(rng.integers(0, 25, n_s)), "s_acctbal": cents(-99_999, 999_999, n_s)}),
        "part": pa.table({"p_partkey": np.arange(n_p),
                          "p_name": [f"{_PART_WORDS[a]} {_PART_WORDS[b]}" for a, b in part_words],
                          "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_p)],
                          "p_type": pick(_PART_TYPES, n_p), "p_size": i32(rng.integers(1, 51, n_p)),
                          "p_retailprice": p_price}),
        "orders": pa.table({"o_orderkey": np.arange(n_o), "o_custkey": rng.integers(0, n_c, n_o),
                            "o_orderstatus": pick(("F", "O", "P"), n_o), "o_totalprice": cents(100_000, 50_000_000, n_o),
                            "o_orderdate": o_date, "o_orderpriority": pick(_PRIORITIES, n_o)}),
        "lineitem": pa.table({
            "l_orderkey": l_order, "l_partkey": l_part, "l_suppkey": rng.integers(0, n_s, n_l),
            "l_linenumber": i32(np.arange(n_l) - np.repeat(np.cumsum(lines) - lines, lines) + 1),
            "l_quantity": qty, "l_extendedprice": np.round(qty * p_price[l_part], 2),
            "l_discount": rng.integers(0, 11, n_l) / 100.0, "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": pick(("A", "N", "R"), n_l), "l_linestatus": pick(("F", "O"), n_l),
            "l_shipdate": o_date[l_order] + rng.integers(1, 122, n_l) * _DAY,
        }),
    }


def query_order(seed: int, names: list[str]):
    """The query mix's order, pass after pass: every name once per
    pass, shuffled by the seed."""
    rng = random.Random(seed)
    while True:
        yield rng.sample(names, len(names))
