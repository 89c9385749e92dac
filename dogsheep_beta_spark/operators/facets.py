"""Count + facet aggregations (SURVEY.md §2 D1-D4, C4).

The reference computes a filtered total count plus three column facets
(type, category, is_public) and one date facet over ``timestamp`` —
delegated to Datasette's ColumnFacet/DateFacet, which run one
``GROUP BY col ORDER BY count DESC LIMIT facet_size`` each
(__init__.py:200-215).

Key improvement over the reference (SURVEY.md §3.3): the reference
computes results and facets via two independent execution paths that can
disagree; here every aggregate derives from ONE ``filtered_df``.  The
request path (page, CLI) answers the count and all four facets with one
``GROUPING SETS`` aggregate (``count_and_facets``); the per-facet
builders stay for the declared queries that return one facet each.

Determinism: ties in count are broken by the facet value ascending so
hash-comparison against the oracle is stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_FACET_SIZE = 30  # Datasette default facet_size

FACET_COLUMNS = ("type", "category", "is_public")  # __init__.py:44,202


def filtered_count(df: DataFrame) -> int:
    """D1 — exact count of the filtered set."""
    return df.count()


def column_facet(
    df: DataFrame, column: str, limit: int = DEFAULT_FACET_SIZE
) -> DataFrame:
    """D2 — value distribution of one column over the filtered set.

    Partial (map-side) aggregation then a single shuffle on the facet
    column; the final limit is a TakeOrdered, not a global sort.
    """
    return (
        df.groupBy(F.col(column).alias("value"))
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.asc_nulls_last("value"))
        .limit(limit)
    )


def date_facet(
    df: DataFrame, column: str = "timestamp", limit: int = DEFAULT_FACET_SIZE
) -> DataFrame:
    """D3 — counts bucketed by ``date(timestamp)`` (Datasette DateFacet).

    ``to_date`` parses the ISO-8601 text with either ``T`` or space
    separator, matching SQLite's ``date()`` (SURVEY §2 B4/D3/H2).
    """
    return (
        df.filter(F.col(column).isNotNull())
        .groupBy(F.to_date(F.col(column)).alias("value"))
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.asc_nulls_last("value"))
        .limit(limit)
    )


def count_and_facets(
    df: DataFrame, facet_size: int = DEFAULT_FACET_SIZE
) -> tuple[int, dict[str, list[dict]]]:
    """D1-D3 in ONE aggregate: the filtered count plus the three column
    facets and the date facet, as one ``GROUPING SETS`` collect.

    Returns ``(count, {"type"|"category"|"is_public"|"timestamp":
    [{"value", "count"}, ...]})`` — exactly what ``filtered_count`` and
    the collected ``column_facet`` / ``date_facet`` rows give, at 2
    Spark jobs instead of 10.  ``grouping_id()`` names the set each row
    belongs to, so a rolled-up NULL never passes for a real NULL value:
    a NULL column value keeps its place in the ranking, the date set
    drops NULL-timestamp rows (``date_facet``'s filter) but keeps the
    NULL-date group of unparsable timestamps (with ANSI mode off; with
    it on, both paths raise on them).  Each set is ranked on the
    driver (count desc, value asc nulls last, cut to ``facet_size``);
    the collected groups are bounded by the distinct days in the set,
    and a window rank in Spark would cost one more job per call.
    """
    cols = (*FACET_COLUMNS, "__date", "__ts_null")
    sets = [(), *((c,) for c in FACET_COLUMNS), ("__date", "__ts_null")]

    def gid(kept) -> int:
        # grouping_id(): bit (n-1-i) is set when cols[i] is rolled up
        n = len(cols)
        return sum(1 << (n - 1 - i) for i, c in enumerate(cols) if c not in kept)

    value_of = {gid(s): s[0] for s in sets[1:]}
    rows = (
        df.select(
            *FACET_COLUMNS,
            F.to_date(F.col("timestamp")).alias("__date"),
            F.col("timestamp").isNull().alias("__ts_null"),
        )
        .groupingSets(sets, *cols)
        .agg(F.count(F.lit(1)).alias("count"), F.grouping_id().alias("__gid"))
        .collect()
    )
    count = 0  # an empty input yields no row for the () set
    facets: dict[str, list[dict]] = {c: [] for c in (*FACET_COLUMNS, "timestamp")}
    for r in rows:
        col = value_of.get(r["__gid"])
        if col is None:
            count = r["count"]
        elif col == "__date":
            if not r["__ts_null"]:
                facets["timestamp"].append({"value": r["__date"], "count": r["count"]})
        else:
            facets[col].append({"value": r[col], "count": r["count"]})
    for vals in facets.values():
        # values are unique within a set, so at most one None per sort
        vals.sort(key=lambda d: (-d["count"], d["value"] is None, d["value"]))
        del vals[facet_size:]
    return count, facets


def facet_with_labels(facet_df: DataFrame, categories_df: DataFrame) -> DataFrame:
    """C4 — expand the ``category`` FK to its label via a broadcast join."""
    return (
        facet_df.join(
            F.broadcast(categories_df),
            facet_df.value == categories_df.id,
            "left",
        )
        .select(
            facet_df.value,
            categories_df.name.alias("label"),
            facet_df["count"],
        )
        .orderBy(F.desc("count"), F.asc_nulls_last("value"))
    )
