"""Expected answers, computed with DuckDB from the generated inputs.

Nothing here runs Spark: the ratings oracle reads the generated text
file with DuckDB and keeps per-scheme aggregates in plain dicts, so
its answers stay independent of the program's own reads, and
``stored_counts`` reads a warehouse's files with DuckDB too. Results are
compared as aggregates (row count and column sums per provenance
group), which a missing, extra or misrouted row always changes.

Fragment rules, restated from the reference (not imported from the
package): range fragment 0 holds ``[0, 1]`` and fragment ``i > 0``
holds ``(i, i + 1]`` on the fixed domain ``[0, 5]``; round-robin row
``k`` of the ``(userid, movieid)`` order goes to ``k mod n`` and routed
inserts follow the catalog cursor; hash fragment = md5 prefix of the
key mod ``n``.
"""

from __future__ import annotations

import decimal
import hashlib
import math
import os
from collections import defaultdict

import duckdb

N_FRAGMENTS = 5
DOMAIN = (0.0, 5.0)
#: provenance prefixes of the reference's golden output files
RANGE_NAME = "range_ratings_part"
RR_NAME = "round_robin_ratings_part"

RATINGS_SQL = """
SELECT userid, movieid, rating FROM read_csv('{path}', delim=':', header=false,
  columns={{'userid': 'INTEGER', 'x1': 'VARCHAR', 'movieid': 'INTEGER',
           'x2': 'VARCHAR', 'rating': 'DOUBLE', 'x3': 'VARCHAR', 'ts': 'BIGINT'}})
"""


def range_owner(value: float, n: int = N_FRAGMENTS) -> int:
    lo, hi = DOMAIN
    width = (hi - lo) / n
    if value - lo <= width:
        return 0
    return min(max(math.ceil((value - lo) / width) - 1, 0), n - 1)


def hash_owner(key: int, n: int = N_FRAGMENTS) -> int:
    return int(hashlib.md5(str(int(key)).encode()).hexdigest()[:13], 16) % n


def _add(acc: list, *vals) -> None:
    for i, v in enumerate(vals):
        acc[i] += v


class RatingsOracle:
    """Per-scheme contents of the fragmented warehouse, as aggregates.

    ``range_by_rating[r]`` / ``rr_by_rating[(r, frag)]`` hold
    ``[rows, sum(userid), sum(movieid)]``; ``hash_by_user[u]`` holds
    ``[rows, sum(movieid), sum(rating)]``.
    """

    def __init__(self, text_path: str, n: int = N_FRAGMENTS):
        self.n = n
        con = duckdb.connect()
        try:
            con.sql(f"CREATE TABLE r AS {RATINGS_SQL.format(path=text_path)}")
            (self.rows,) = con.sql("SELECT count(*) FROM r").fetchone()
            self.range_by_rating = {
                r: [c, su, sm]
                for r, c, su, sm in con.sql(
                    "SELECT rating, count(*), sum(userid), sum(movieid) FROM r GROUP BY 1"
                ).fetchall()
            }
            self.rr_by_rating = {
                (r, f): [c, su, sm]
                for r, f, c, su, sm in con.sql(f"""
                    SELECT rating, f, count(*), sum(userid), sum(movieid) FROM (
                      SELECT *, (row_number() OVER (ORDER BY userid, movieid) - 1) % {n} AS f
                      FROM r) GROUP BY 1, 2""").fetchall()
            }
            self.hash_by_user = {
                u: [c, sm, sr]
                for u, c, sm, sr in con.sql(
                    "SELECT userid, count(*), sum(movieid), sum(rating) FROM r GROUP BY 1"
                ).fetchall()
            }
            self.userids = sorted(self.hash_by_user)
        finally:
            con.close()
        self.rr_cursor = (self.rows - 1) % n if self.rows else -1

    # -- expected query answers ------------------------------------------
    def _select(self, keep) -> dict[str, tuple]:
        """Expected ``{fragment_name: (rows, sum userid, sum movieid,
        sum rating)}`` over both schemes for ratings where ``keep``."""
        out: dict[str, list] = defaultdict(lambda: [0, 0, 0, 0.0])
        for r, (c, su, sm) in self.range_by_rating.items():
            if keep(r) and c:
                _add(out[f"{RANGE_NAME}{range_owner(r, self.n)}"], c, su, sm, c * r)
        for (r, f), (c, su, sm) in self.rr_by_rating.items():
            if keep(r) and c:
                _add(out[f"{RR_NAME}{f}"], c, su, sm, c * r)
        return {k: tuple(v) for k, v in out.items()}

    def point(self, value: float) -> dict[str, tuple]:
        return self._select(lambda r: r == value)

    def range(self, lo: float, hi: float) -> dict[str, tuple]:
        return self._select(lambda r: lo <= r <= hi)

    def lookup(self, userid: int) -> tuple:
        """``(rows, sum movieid, sum rating, owning fragment)``."""
        c, sm, sr = self.hash_by_user.get(userid, (0, 0, 0.0))
        return (c, sm, sr, hash_owner(userid, self.n))

    def fragment_counts(self, inserted=()) -> dict[str, dict[int, int]]:
        """Rows per fragment id of each scheme after the routed single-row
        inserts ``inserted`` = ``[(scheme, userid, rating), ...]``, in order."""
        rng: dict[int, int] = defaultdict(int)
        for r, (c, _, _) in self.range_by_rating.items():
            rng[range_owner(r, self.n)] += c
        rr: dict[int, int] = defaultdict(int)
        for (_, f), (c, _, _) in self.rr_by_rating.items():
            rr[f] += c
        hsh: dict[int, int] = defaultdict(int)
        for u, (c, _, _) in self.hash_by_user.items():
            hsh[hash_owner(u, self.n)] += c
        cursor = self.rr_cursor
        for scheme, userid, rating in inserted:
            if scheme == "range":
                rng[range_owner(rating, self.n)] += 1
            elif scheme == "rr":  # the catalog cursor moves one fragment on
                cursor = (cursor + 1) % self.n
                rr[cursor] += 1
            else:
                hsh[hash_owner(userid, self.n)] += 1
        return {
            "range": {k: v for k, v in rng.items() if v},
            "rr": {k: v for k, v in rr.items() if v},
            "hash": {k: v for k, v in hsh.items() if v},
        }


def visible_parquet(root: str) -> list[str]:
    """Parquet files under ``root`` that a Spark reader sees: none under a
    file or directory whose name starts with ``_`` or ``.``."""
    out = []
    for dirpath, dirs, names in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out += [os.path.join(dirpath, n) for n in names
                if n.endswith(".parquet") and not n.startswith(("_", "."))]
    return sorted(out)


def stored_counts(scheme_roots: dict[str, str]) -> tuple[dict[str, dict[int, int]], int]:
    """What a warehouse holds, read with DuckDB from its files: rows per
    ``fragment_id`` directory of each fragmented scheme, and base rows.
    ``scheme_roots`` maps ``base`` and each scheme to its directory."""
    con = duckdb.connect()
    try:
        def query(sql: str, root: str) -> list[tuple]:
            files = visible_parquet(root)
            return con.execute(sql, [files]).fetchall() if files else []

        frags = {
            scheme: dict(query("SELECT fragment_id, count(*) FROM read_parquet(?, "
                               "hive_partitioning=true) GROUP BY 1", root))
            for scheme, root in scheme_roots.items() if scheme != "base"
        }
        base = query("SELECT count(*) FROM read_parquet(?)", scheme_roots["base"])
        return frags, base[0][0] if base else 0
    finally:
        con.close()


def same_groups(got: dict[str, tuple], want: dict[str, tuple]) -> bool:
    if got.keys() != want.keys():
        return False
    return all(
        all(math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-9) for a, b in zip(got[k], want[k]))
        for k in want
    )


# ---------------------------------------------------------------------------
# registry queries: DuckDB runs each query's oracle SQL over the same files
# ---------------------------------------------------------------------------

def _canon(v):
    if v is None:
        return ("n", 0)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        return ("f", "NaN") if math.isnan(v) else ("f", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, decimal.Decimal):
        return ("f", float(v))
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return ("a", tuple(_canon(x) for x in v))
    if hasattr(v, "item"):
        return _canon(v.item())
    return ("s", str(v))


def _sort_key(row: tuple) -> str:
    """Order rows so floats that differ in the last bits still align."""
    def k(c):
        if c[0] == "f" and c[1] != "NaN":
            return ("f", f"{c[1]:.6e}")
        if c[0] == "a":
            return ("a", tuple(k(x) for x in c[1]))
        return c
    return repr(tuple(k(c) for c in row))


def _close(a, b) -> bool:
    if a[0] == "f" and b[0] == "f" and a[1] != "NaN" and b[1] != "NaN":
        return math.isclose(a[1], b[1], rel_tol=1e-9, abs_tol=1e-12)
    if a[0] == "a" and b[0] == "a":
        return len(a[1]) == len(b[1]) and all(map(_close, a[1], b[1]))
    return a == b


def canonical_rows(frame) -> tuple[list[str], list[tuple]]:
    """A pandas frame as (sorted column names, rows sorted as a multiset)."""
    cols = sorted(frame.columns)
    rows = [
        tuple(_canon(v) for v in rec)
        for rec in frame[cols].itertuples(index=False, name=None)
    ]
    return cols, sorted(rows, key=_sort_key)


def same_result(got, want) -> bool:
    """Multiset equality of two canonical results, floats to 1e-9."""
    (gc, gr), (wc, wr) = got, want
    return gc == wc and len(gr) == len(wr) and all(
        all(map(_close, a, b)) for a, b in zip(gr, wr)
    )


def registry_expected(sf_dir: str, tables, oracle_sql: dict[str, str], names) -> dict:
    con = duckdb.connect()
    try:
        for t in tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return {q: canonical_rows(con.sql(oracle_sql[q]).df()) for q in names}
    finally:
        con.close()
