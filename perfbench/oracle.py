"""Output checks against the DuckDB oracles that ``dataweb_spark.queries``
declares, with the row normalization of ``tools/check_correctness.py``.

Runs outside the timed region. A result passes when its rows equal the
oracle's as a multiset after that normalization: exactly, or at nine
significant digits, or off by one only in the round-derived fixed-point
columns that ``check_correctness`` allowlists (its PASS and WEAK verdicts).
A caller may also name columns that are ``round(<float aggregate>, d)``:
those may differ by one unit in the last kept decimal, because the engines
sum in different orders and a sum that lands on a rounding boundary rounds
either way.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pyarrow as pa

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _checker(root: str):
    tools = os.path.join(root, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check_correctness
    return check_correctness


class Oracle:
    def __init__(self, root: str, sf_dir: str) -> None:
        self._cc = _checker(root)
        self.con = duckdb.connect()
        self.con.execute("SET threads=2")
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(f"create view {t} as select * from '{path}'")
        self._cache: dict[str, pa.Table] = {}

    def run(self, sql: str) -> pa.Table:
        """Oracle result for ``sql``; identical texts are evaluated once."""
        hit = self._cache.get(sql)
        if hit is None:
            hit = self._cache[sql] = self.con.execute(sql).fetch_arrow_table()
        return hit

    def query(self, sql: str, **tables: pa.Table) -> pa.Table:
        """Run ``sql`` with Arrow tables bound under the given names."""
        for name, t in tables.items():
            self.con.register(name, t)
        try:
            return self.con.execute(sql).fetch_arrow_table()
        finally:
            for name in tables:
                self.con.unregister(name)

    def matches(self, got: pa.Table, want: pa.Table,
                rounded: dict[str, int] | None = None) -> tuple[bool, str]:
        gcols, wcols = sorted(got.column_names), sorted(want.column_names)
        if gcols != wcols:
            return False, f"columns {gcols} vs {wcols}"
        if got.num_rows != want.num_rows:
            return False, f"rowcount {got.num_rows} vs {want.num_rows}"
        g = list(zip(*(got.column(c).to_pylist() for c in gcols))) \
            if gcols else []
        w = list(zip(*(want.column(c).to_pylist() for c in wcols))) \
            if wcols else []
        cc = self._cc
        try:
            gn, wn = cc.normalize(g), cc.normalize(w)
        except cc.ContainerCellError as e:
            return False, str(e)
        if gn == wn or cc.normalize(g, 9) == cc.normalize(w, 9):
            return True, ""
        if cc._only_fixed_point_off_by_one(gcols, gn, wn):
            return True, ""
        if rounded and _within_rounding(gcols, gn, wn, rounded):
            return True, ""
        diffs = [(a, b) for a, b in zip(gn, wn) if a != b][:2]
        return False, f"values differ, first diffs {diffs}"

    def close(self) -> None:
        self.con.close()


def _within_rounding(cols: list[str], got: list[tuple], want: list[tuple],
                     rounded: dict[str, int]) -> bool:
    """Rows pair up on every other column, and each ``rounded`` column
    differs by at most one unit in its last decimal."""
    idx = {i: 10.0 ** -rounded[c] for i, c in enumerate(cols) if c in rounded}

    def key(row):
        return repr(tuple(v for i, v in enumerate(row) if i not in idx))
    for a, b in zip(sorted(got, key=key), sorted(want, key=key)):
        for i, (x, y) in enumerate(zip(a, b)):
            if x == y:
                continue
            if (i in idx and isinstance(x, float) and isinstance(y, float)
                    and abs(x - y) <= idx[i] * 1.001):
                continue
            return False
    return True
