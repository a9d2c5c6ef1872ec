"""Tests of the benchmark itself: generators are deterministic per seed,
and every output check catches a planted fault.  No Spark session is
started.  Run with ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

from decimal import Decimal
from itertools import islice
from types import SimpleNamespace

import numpy as np
import pytest

from perfbench import analytics
from perfbench import corpus as corpus_wl
from perfbench import etl, gen
from perfbench.trace import Span, Tracer

WORLD = gen.SendoWorld(seed=7, products=2_000, shops=100, ratings_per_shop=10)


def _landed(exp):
    return {t: exp[t][cols].copy() for t, cols in etl.KEY_COLS.items()}


def _result(exp, **over):
    r = {"products": len(exp["product_detail"]), "shops": len(exp["shop_info"]),
         "ratings": len(exp["rating"]), "products_dropped_by_fk": exp["dropped"]}
    return SimpleNamespace(**{**r, **over})


def test_world_is_deterministic_per_seed():
    a = etl.expected_tables(WORLD.at(3))
    b = etl.expected_tables(WORLD.at(3))
    c = etl.expected_tables(gen.SendoWorld(**{**WORLD.__dict__, "seed": 8}).at(3))
    for t in etl.KEY_COLS:
        assert a[t].equals(b[t])
        assert not a[t].equals(c[t])


def test_world_churns_grows_and_plants_faults():
    day0, day2 = etl.expected_tables(WORLD.at(0)), etl.expected_tables(WORLD.at(2))
    assert len(day2["product_detail"]) > len(day0["product_detail"])
    assert len(day2["shop_info"]) > len(day0["shop_info"])
    assert len(day2["rating"]) > len(day0["rating"])
    changed = day2["product_detail"]["changed"].mean()
    assert 0.08 < changed < 0.16  # ~10% churned + ~2% new
    assert day2["dropped"] > 0
    assert day2["rating"]["bad_date"].sum() > 0


def test_fetchers_page_through_every_expected_row():
    w = WORLD.at(1)
    f = w.fetchers()
    cfg = None
    products = []
    for cat in f.sitemap():
        for sub in cat["child"]:
            page = 1
            while True:
                try:
                    rows = f.product_page({"category": cat["url_key"], "sub_category": sub["url_key"]}, page, cfg)
                except ConnectionError:
                    rows = f.product_page({"category": cat["url_key"], "sub_category": sub["url_key"]}, page, cfg)
                if not rows:
                    break
                products += rows
                page += 1
    exp = etl.expected_tables(w)
    live = [p for p in products if not p["shop_id"].startswith("dead")]
    assert len(products) - len(live) == exp["dropped"]
    assert sorted(p["product_id"] for p in live) == sorted(exp["product_detail"]["product_id"])
    assert f.shop_detail({"shop_id": "dead1"}, cfg) is None


def test_flaky_page_fails_once_then_succeeds():
    w = gen.SendoWorld(seed=1, products=2_000, shops=100, ratings_per_shop=10, flaky_pct=100.0)
    page = gen.ProductPage(w)
    row = {"category": "cat0", "sub_category": "sub0"}
    with pytest.raises(ConnectionError):
        page(row, 1, None)
    assert page(row, 1, None) == gen.ProductPage(w)._page(row, 1)


def test_check_load_accepts_the_expected_warehouse():
    exp = etl.expected_tables(WORLD.at(2))
    failures, matched, n_exp, n_got = etl.check_load(WORLD.at(2), _landed(exp), _result(exp))
    assert failures == []
    assert matched == n_exp == n_got


@pytest.mark.parametrize("fault", ["missing_row", "stale_churn", "orphan_fk", "parsed_bad_date", "count"])
def test_check_load_catches_planted_fault(fault):
    w = WORLD.at(2)
    exp = etl.expected_tables(w)
    landed, result = _landed(exp), _result(exp)
    if fault == "missing_row":
        landed["rating"] = landed["rating"].iloc[1:]
    elif fault == "stale_churn":
        p = landed["product_detail"]
        p.loc[exp["product_detail"]["changed"].to_numpy().nonzero()[0][0], "price"] -= 100
    elif fault == "orphan_fk":
        landed["shop_info"] = landed["shop_info"].iloc[1:]
    elif fault == "parsed_bad_date":
        r = landed["rating"]
        r.loc[exp["rating"]["bad_date"].to_numpy().nonzero()[0][0], "update_time"] = "2023-01-01"
    else:
        result = _result(exp, products_dropped_by_fk=0)
    failures, *_ = etl.check_load(w, landed, result)
    assert failures


def test_corpus_is_deterministic_and_plants_truth():
    a, b = gen.corpus(5, docs=1_000, queries=20), gen.corpus(5, docs=1_000, queries=20)
    assert a.texts == b.texts and a.ids == b.ids and a.should_remove == b.should_remove
    assert gen.corpus(6, docs=1_000, queries=20).texts != a.texts
    assert len(a.should_remove) > 0 and len(a.junk) == 20 and len(a.needles) == 20
    for doc, terms in a.needles.values():
        text = a.texts[a.ids.index(doc)].lower()
        assert all(t in text for t in terms[:2])


def _perfect(c):
    survivors = set(c.ids) - c.junk - c.should_remove
    return survivors, {q: doc for q, (doc, _) in c.needles.items()}


def test_score_pass_accepts_the_planted_truth():
    c = gen.corpus(5, docs=1_000, queries=20)
    failures, recall, precision = corpus_wl.score_pass(c, *_perfect(c))
    assert (failures, recall, precision) == ([], 1.0, 1.0)


@pytest.mark.parametrize("fault", ["dedup_removes_nothing", "junk_kept", "needle_missed", "removes_originals"])
def test_score_pass_catches_planted_fault(fault):
    c = gen.corpus(5, docs=1_000, queries=20)
    survivors, top1 = _perfect(c)
    if fault == "dedup_removes_nothing":
        survivors = set(c.ids) - c.junk
    elif fault == "junk_kept":
        survivors |= c.junk
    elif fault == "needle_missed":
        top1[0] = -1
    else:
        survivors = set(c.ids) - c.junk - set(list(survivors)[: len(c.should_remove)])
    failures, _, _ = corpus_wl.score_pass(c, survivors, top1)
    assert failures


def test_self_time_subtracts_the_union_of_children():
    tr = Tracer(SimpleNamespace(sparkContext=None))
    tr.spans = [Span(0, "root", None, 0.0, 10.0), Span(1, "a", 0, 1.0, 4.0),
                Span(2, "b", 0, 3.0, 5.0), Span(3, "c", 0, 7.0, 8.0), Span(4, "d", 1, 1.0, 2.0)]
    assert tr.self_time(tr.spans[0]) == pytest.approx(10.0 - 4.0 - 1.0)
    assert [s.sid for s in tr.descendants(tr.spans[0])] == [1, 2, 3, 4]


def test_hash64_is_stable():
    assert gen.hash64(1, 2, [3], 4)[0] == gen.hash64(1, 2, np.array([3]), 4)[0]
    assert gen.hash64(1, 2, [3], 4)[0] != gen.hash64(1, 2, [3], 5)[0]


def test_star_schema_and_query_order_are_deterministic_per_seed():
    a, b, c = gen.tpch_tables(3, 0.001), gen.tpch_tables(3, 0.001), gen.tpch_tables(4, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows > a["orders"].num_rows > 0
    names = [*analytics.CATALOG, *analytics.ROLLUPS]
    def passes(seed):
        return list(islice(gen.query_order(seed, names), 4))

    order = passes(3)
    assert order == passes(3) != passes(4)
    assert all(sorted(p) == sorted(names) for p in order) and order[0] != order[1]


ROWS = [("s1", Decimal("1.50"), "2021-01", 3, 12), ("s2", 2.25, None, 1, 5)]
COLS = ["shop_id", "score", "month", "ratings", "stars"]


def test_result_hash_ignores_row_order_and_float_noise():
    assert analytics.result_hash(COLS, ROWS) == analytics.result_hash(COLS, ROWS[::-1])
    noisy = [ROWS[0], ("s2", 2.2500000000000004, None, 1, 5)]
    assert analytics.result_hash(COLS, ROWS) == analytics.result_hash(COLS, noisy)


@pytest.mark.parametrize("fault", ["missing_row", "changed_value", "null_became_value", "renamed_column"])
def test_result_hash_catches_planted_fault(fault):
    rows, cols = list(ROWS), list(COLS)
    if fault == "missing_row":
        rows = rows[:1]
    elif fault == "changed_value":
        rows[0] = ("s1", Decimal("1.50"), "2021-01", 3, 13)
    elif fault == "null_became_value":
        rows[1] = ("s2", 2.25, "2021-02", 1, 5)
    else:
        cols[-1] = "star_sum"
    assert analytics.result_hash(cols, rows) != analytics.result_hash(COLS, ROWS)
