"""Output check: the count a ``/-/beta`` page reports, recomputed on DuckDB.

The search_index the rules config builds is rebuilt here as a DuckDB
table over the same parquet (views from ``tools/check_oracle``, the
search_index SQL of ``__spark_entry__``), with
the portable tokenizer's analysis (lower-case, split on ``[^a-z0-9]+``)
applied per indexed field.  Live-ingested docs are added with the batch
that wrote them, and base docs they replace are closed at that batch,
so the expected count can be taken at any point of the ingest stream.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

from __spark_entry__ import ORACLE_INDEX_CTE
from tools.check_oracle import register_duck_views

# Generation value for rows that are never replaced.
_FOREVER = 1 << 30

# The declared queries' search_index in DuckDB, with the generation a
# row was born in and the one it died in.
_INDEX_SQL = (
    "CREATE TABLE si AS "
    + ORACLE_INDEX_CTE
    + 'SELECT type, "key", title, "timestamp", category, is_public, search_1, '
    f"-1 AS born, {_FOREVER} AS died FROM search_index"
)

_TOKENS = "list_filter(string_split_regex(lower(coalesce({c}, '')), '[^a-z0-9]+'), x -> x <> '')"


def _lit(s: str) -> str:
    return "'" + str(s).replace("'", "''") + "'"


def _has(term: str, fields=("tt", "tb")) -> str:
    return "(" + " OR ".join(f"list_contains({f}, {_lit(term)})" for f in fields) + ")"


def match_predicate(spec: dict) -> str:
    kind, t = spec["kind"], spec["terms"]
    if kind in ("term", "and", "and3"):
        return " AND ".join(_has(x) for x in t)
    if kind == "or":
        return f"({_has(t[0])} OR {_has(t[1])})"
    if kind == "not":
        return f"({_has(t[0])} AND NOT {_has(t[1])})"
    if kind == "phrase":
        needle = _lit(" " + " ".join(t) + " ")
        return f"(contains(jt, {needle}) OR contains(jb, {needle}))"
    if kind == "prefix":
        p = _lit(t[0])
        return (
            f"(len(list_filter(tt, x -> starts_with(x, {p}))) > 0"
            f" OR len(list_filter(tb, x -> starts_with(x, {p}))) > 0)"
        )
    if kind == "title":
        return _has(t[0], ("tt",))
    raise ValueError(f"unknown match kind {kind!r}")


def filter_predicate(args: dict) -> list[str]:
    out = []
    if "type" in args:
        out.append(f"type = {_lit(args['type'])}")
    for col in ("category", "is_public"):
        if col in args:
            out.append(f"{col} = {int(args[col])}")
    if "timestamp__date" in args:
        out.append(f"substr(\"timestamp\", 1, 10) = {_lit(args['timestamp__date'])}")
    return out


class CountOracle:
    def __init__(self, sources_dir: str):
        self.con = duckdb.connect()
        register_duck_views(self.con, sources_dir)
        self.con.execute(_INDEX_SQL)
        self._tokenize()

    def _tokenize(self) -> None:
        """``sit``: ``si`` plus each indexed field's tokens (``tt``, ``tb``)
        and the same tokens space-joined (``jt``, ``jb``) for phrases."""
        self.con.execute(
            "CREATE OR REPLACE TABLE sit AS SELECT *, "
            "' ' || array_to_string(tt, ' ') || ' ' AS jt, "
            "' ' || array_to_string(tb, ' ') || ' ' AS jb FROM ("
            f"SELECT *, {_TOKENS.format(c='title')} AS tt, "
            f"{_TOKENS.format(c='search_1')} AS tb FROM si)"
        )

    def add_batches(self, batches: list[list[dict]]) -> None:
        """Record live-ingest batches: batch b's rows are born at b and
        the rows they replace die at b."""
        rows = [dict(r, born=b) for b, batch in enumerate(batches) for r in batch]
        self.con.register("ingest", pa.Table.from_pylist(rows))
        self.con.execute(
            "UPDATE si SET died = i.born FROM ingest i "
            "WHERE si.type = 'events.db/events' AND si.key = i.key AND si.born < 0"
        )
        self.con.execute(
            "INSERT INTO si SELECT 'events.db/events', key, title, timestamp, "
            f"category, is_public, search_1, born, {_FOREVER} FROM ingest"
        )
        self.con.unregister("ingest")
        self._tokenize()

    def expected(self, request: dict, batches_done: int = 0) -> int:
        """Count the page should report after ``batches_done`` batches."""
        g = batches_done - 1
        where = [f"born <= {g}", f"died > {g}"] + filter_predicate(request["args"])
        if request["match"] is not None:
            where.append(match_predicate(request["match"]))
        sql = "SELECT count(*) FROM sit WHERE " + " AND ".join(where)
        return self.con.execute(sql).fetchone()[0]

    def close(self) -> None:
        self.con.close()
