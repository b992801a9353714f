"""DuckDB oracle for the store workloads.

Each SPARQL op is re-evaluated by DuckDB over the same parquet tables,
through the project's own oracle renderer ``plans.oracle.bgp_to_sql`` and
the shared ``TRIPLES_SQL``/``DICT_SQL`` derivation.  Results compare as
multisets.  Constants the arithmetic id scheme cannot resolve (name
literals) resolve through DuckDB's copy of the dictionary, the same lookup
the engine makes against its own.
"""

from __future__ import annotations

import os
from collections import Counter

import duckdb

from datagen import TABLES


def same_multiset(got: list, want: list) -> bool:
    return Counter(map(tuple, got)) == Counter(map(tuple, want))


class SparqlOracle:
    """Answers are memoised per (text, decode): lookups repeat popular
    texts, and each distinct text is evaluated once."""

    def __init__(self, data_dir: str):
        from dream_spark.sources.triples import DICT_SQL

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{path}')")
        self.con.execute(f"CREATE TABLE dict AS {DICT_SQL}")
        self._memo: dict[tuple[str, bool], list] = {}

    def _resolve(self, lexical: str) -> int:
        from dream_spark.sources.triples import UNKNOWN_ID, resolve_lexical

        rid = resolve_lexical(lexical)
        if rid is not None:
            return rid
        row = self.con.execute("SELECT id FROM dict WHERE lexical = ? LIMIT 1", [lexical]).fetchone()
        return UNKNOWN_ID if row is None else row[0]

    def answer(self, text: str, decode: bool) -> list:
        key = (text, decode)
        if key not in self._memo:
            from dream_spark.plans.oracle import bgp_to_sql
            from dream_spark.plans.sparql import parse_sparql

            sql = bgp_to_sql(parse_sparql(text), decode=decode, resolver=self._resolve)
            self._memo[key] = self.con.execute(sql).fetchall()
        return self._memo[key]

    def check(self, text: str, decode: bool, rows: list) -> bool:
        return same_multiset(rows, self.answer(text, decode))

    def close(self) -> None:
        self.con.close()
