"""Timeline / filter / facet semantics (SURVEY §2 B3-B4, D1-D4, F2-F4)."""

import pytest

from dogsheep_beta_spark.plans.query import QueryPlan, timeline_query, compile_plan
from dogsheep_beta_spark.operators import facets as facet_ops
from dogsheep_beta_spark.schema import categories_df


def keys(df):
    return [f"{r['type'].split('.')[0]}:{r['key']}" for r in df.collect()]


def test_timeline_order(plugin_index):
    # FIXTURES.md §5: timestamp desc; the two rows sharing
    # 2020-08-01T00:05:02 tie-break deterministically on (type, key).
    out = timeline_query(plugin_index, QueryPlan())
    got = [(r["timestamp"], r["key"]) for r in out.collect()]
    assert [t for t, _ in got] == sorted([t for t, _ in got], reverse=True)
    assert len(got) == 4


def test_timeline_lexicographic_timestamps(spark):
    # F4 gotcha: 'T' (0x54) sorts AFTER ' ' (0x20); string order, not
    # timestamp order, must be reproduced.
    from dogsheep_beta_spark.indexer import build_search_index

    spark.createDataFrame(
        [(1, "2020-08-01T00:05:02"), (2, "2020-08-01 23:59:59")],
        "id int, ts string",
    ).createOrReplaceTempView("tsrc")
    idx = build_search_index(
        spark, {"d": {"r": {"sql": "select id as key, ts as timestamp from tsrc"}}}
    )
    out = timeline_query(idx, QueryPlan())
    # "2020-08-01T..." > "2020-08-01 23:59:59" lexicographically
    assert [r["key"] for r in out.collect()] == ["1", "2"]


def test_equality_and_date_filters(plugin_index):
    q = QueryPlan(is_public=1)
    out = timeline_query(plugin_index, q)
    assert all(r["is_public"] == 1 for r in out.collect())

    q = QueryPlan(date="2020-08-01")
    out = timeline_query(plugin_index, q)
    assert sorted(r["timestamp"] for r in out.collect()) == [
        "2020-08-01T00:05:02",
        "2020-08-01T00:05:02",
    ]


def test_sort_overrides(plugin_index):
    newest = timeline_query(plugin_index, QueryPlan(sort="newest"))
    oldest = timeline_query(plugin_index, QueryPlan(sort="oldest"))
    ts_new = [r["timestamp"] for r in newest.collect()]
    ts_old = [r["timestamp"] for r in oldest.collect()]
    assert ts_new == sorted(ts_new, reverse=True)
    assert ts_old == sorted(ts_old)


def test_count_and_facets(plugin_index, spark):
    res = compile_plan(plugin_index, QueryPlan())
    count, facets = facet_ops.count_and_facets(res.filtered)
    assert count == facet_ops.filtered_count(res.filtered) == 4

    type_facet = {d["value"]: d["count"] for d in facets["type"]}
    assert type_facet == {"emails.db/emails": 2, "github.db/commits": 2}

    is_public_facet = {d["value"]: d["count"] for d in facets["is_public"]}
    assert is_public_facet == {0: 2, 1: 2}

    date_facet = {str(d["value"]): d["count"] for d in facets["timestamp"]}
    assert date_facet == {"2020-08-01": 2, "2020-08-02": 2}


def test_category_facet_labels(plugin_index, spark):
    # C4: FK label expansion via broadcast join — facet shows "created".
    res = compile_plan(plugin_index, QueryPlan())
    labeled = facet_ops.facet_with_labels(
        facet_ops.column_facet(res.filtered, "category"), categories_df(spark)
    )
    rows = {r["label"]: r["count"] for r in labeled.collect() if r["value"] is not None}
    assert rows == {"created": 2}


def test_search_and_facets_share_one_filtered_set(plugin_index):
    """Intentional deviation from the reference, pinned.

    The reference runs search and facets as two separate Datasette
    calls with DIVERGENT error fallbacks: the facet call retries
    without ``_searchmode=raw`` on any non-200
    (/root/reference/dogsheep_beta/__init__.py:241-244), while the
    search call falls back per-query — so for a query that errors only
    in raw mode the two paths can disagree about which docs were
    matched.  This engine deliberately collapses both onto ONE
    ``filtered`` DataFrame (plans/query.py:compile_plan), so the facet
    counts always sum over exactly the docs the search returned — for
    every query, including ones that take the escape fallback.
    """
    from dogsheep_beta_spark.plans.search import search_query

    # "#dogfest" is a ParseError → escape fallback (the class of query
    # where the reference's two paths could diverge).
    res = search_query(plugin_index, _fts(plugin_index), QueryPlan(q="#dogfest"))
    result_keys = {
        (r["type"], r["key"]) for r in res.results.select("type", "key").collect()
    }
    filtered_keys = {
        (r["type"], r["key"]) for r in res.filtered.select("type", "key").collect()
    }
    assert result_keys == filtered_keys  # same doc set feeds both
    _, facets = facet_ops.count_and_facets(res.filtered)
    type_facet = {d["value"]: d["count"] for d in facets["type"]}
    assert sum(type_facet.values()) == len(filtered_keys)
    assert type_facet == {"emails.db/emails": 1}


def _fts(idx):
    from dogsheep_beta_spark.operators.fts_index import build_fts_index

    return build_fts_index(idx, mode="unicode61", stem=True)


def test_non_numeric_facet_args_match_nothing(spark, plugin_index):
    """?category=abc must render 0 results, not crash — the reference
    binds the raw string into SQLite whose affinity finds no rows."""
    from dogsheep_beta_spark.plans.query import QueryPlan, apply_filters

    out = apply_filters(plugin_index, QueryPlan(category="abc"))
    assert out.count() == 0
    out2 = apply_filters(plugin_index, QueryPlan(is_public=""))
    assert out2.count() == 0
    # SQLite numeric affinity: '1.0' and ' 1e0' compare numerically
    base = apply_filters(plugin_index, QueryPlan(category=1)).count()
    assert base > 0
    for v in ("1.0", " 1e0"):
        assert apply_filters(plugin_index, QueryPlan(category=v)).count() == base
    # fractional value matches no integer category (not a 500)
    assert apply_filters(plugin_index, QueryPlan(category="1.5")).count() == 0


def _facets_one_by_one(df, size):
    """The per-output path ``count_and_facets`` replaces: one count and
    four facet collects."""
    facets = {
        c: [r.asDict() for r in facet_ops.column_facet(df, c, size).collect()]
        for c in facet_ops.FACET_COLUMNS
    }
    facets["timestamp"] = [
        r.asDict() for r in facet_ops.date_facet(df, "timestamp", size).collect()
    ]
    return facet_ops.filtered_count(df), facets


def test_count_and_facets_matches_per_facet_path(spark):
    """One GROUPING SETS aggregate == filtered_count + column_facet x3 +
    date_facet, as full ordered lists: NULL column values keep their
    ranking slot, NULL timestamps leave the date set, both ``T`` and
    space separators bucket by day, and count ties at the facet_size
    cut break on the value (nulls last)."""
    rows = [
        # date counts 3 / 2 / 2 / 2 / 1: a 3-way tie across a cut of 3
        ("a", 1, None, "2020-01-01T01:00:00"),
        ("a", 1, None, "2020-01-01 02:00:00"),
        ("a", 1, None, "2020-01-01T03:00:00"),
        ("b", None, 1, "2020-01-04 00:00:00"),
        ("b", None, 1, "2020-01-04T00:00:01"),
        ("b", 2, 0, "2020-01-03T00:00:00"),
        ("c", 2, 1, "2020-01-03 00:00:00"),
        ("c", 3, 0, "2020-01-02T00:00:00"),
        ("c", 3, None, "2020-01-02 00:00:00"),
        ("d", None, 1, "2020-01-05T00:00:00"),
        ("d", 4, 1, None),
    ]
    schema = "type string, category int, is_public int, timestamp string"
    df = spark.createDataFrame(rows, schema)
    for size in (3, 2, 30):
        assert facet_ops.count_and_facets(df, size) == _facets_one_by_one(df, size)
    count, facets = facet_ops.count_and_facets(df, 3)
    assert count == 11
    # the tie at the cut and the NULL that takes a slot are both exercised
    assert [d["value"] for d in facets["category"]] == [1, None, 2]
    assert [d["value"] for d in facets["is_public"]] == [1, None, 0]
    assert facet_ops.count_and_facets(df.filter("false"), 3) == (
        0, {"type": [], "category": [], "is_public": [], "timestamp": []}
    )

    # an unparsable timestamp: both paths raise under ANSI mode; without
    # it both keep its NULL-date group
    dirty = spark.createDataFrame(
        rows + [("e", 5, 1, "not a date"), ("e", 5, 1, "2020-13-45")], schema
    )
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    if ansi == "true":
        with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
            facet_ops.count_and_facets(dirty, 3)
        with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
            _facets_one_by_one(dirty, 3)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        for size in (3, 30):
            got = facet_ops.count_and_facets(dirty, size)
            assert got == _facets_one_by_one(dirty, size)
        assert {"value": None, "count": 2} in got[1]["timestamp"]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
