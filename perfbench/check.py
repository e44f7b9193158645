"""Result checking against the SQLite FTS5 oracle.

The oracle indexes the same generated files the engine indexes (one
FTS5 row per file, ``name`` = path, as the engine's file documents) and
follows every commit. Hits are compared on (repo, path), never on the
engine's doc ids: the tie-group rule is the one of the repo's parity
suite — the ordered (name_match, score) sequence must match to 1e-9,
and each tie group that does not cross the top-k boundary must hold the
same files.

The reference query is a union of two ``LIMIT top_k`` branches (name
column, all columns), and a file's final score is its better rank among
the branches that selected it. When a branch's top-k boundary falls in
a tie group, SQLite picks the tied rows in an unspecified order, and
that choice changes the final scores of the picked files. A result that
fails the plain comparison is therefore accepted when some choice of
the tied rows at each branch boundary reproduces it exactly.
"""

from __future__ import annotations

import sqlite3

from codebased_spark.functions.fts5 import quote_fts_query
from codebased_spark.oracle import Fts5Oracle
from tests.parity import assert_rank_identical

_BRANCH_SQL = {
    True: "select rowid, rank from fts where name match :q order by rank limit :n",
    False: "select rowid, rank from fts(:q) order by rank limit :n",
}


def _same(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-9 * max(abs(a), abs(b)) + 1e-15


class Oracle:
    def __init__(self, corpus: dict):
        self.keys = list(zip(corpus["repo"], corpus["path"]))
        self.fts = Fts5Oracle(
            (i, p, p, c) for i, (p, c) in enumerate(zip(corpus["path"], corpus["content"]))
        )

    def apply(self, rows: list[int], contents: list[str]) -> None:
        """Follow a commit that rewrote the given corpus rows."""
        self.fts.db.executemany(
            "update fts set content = ? where rowid = ?",
            [(c, i) for i, c in zip(rows, contents)],
        )
        self.fts.db.commit()

    def hits(self, query: str, top_k: int) -> list[tuple]:
        return [(self.keys[h.doc_id], bool(h.name_match), h.score)
                for h in self.fts.search(query, top_k)]

    def verify(self, query: str, top_k: int, ours: list[tuple]) -> bool:
        """ours: [((repo, path), name_match, score)] best-first."""
        if rank_identical(ours, self.hits(query, top_k), top_k):
            return True
        return rank_identical(ours, self._hits_choosing_ties(query, top_k, ours), top_k)

    def _branch(self, name: bool, q: str, top_k: int):
        """(rank by rowid of every row the branch can select, rows it
        must select, tied rows at its boundary, how many of those it
        takes)."""
        n = top_k + 1
        while True:
            rows = self.fts.db.execute(_BRANCH_SQL[name], {"q": q, "n": n}).fetchall()
            if len(rows) <= top_k:
                return {r: k for r, k in rows}, {r for r, _ in rows}, [], 0
            edge = rows[top_k - 1][1]
            if len(rows) < n or rows[-1][1] != edge:
                break
            n *= 4
        rank = {r: k for r, k in rows if k <= edge}
        sure = {r for r, k in rows if k < edge}
        tied = sorted(r for r, k in rows if k == edge)
        return rank, sure, tied, top_k - len(sure)

    def _hits_choosing_ties(self, query: str, top_k: int, ours: list[tuple]) -> list[tuple]:
        """The reference result under the choice of boundary-tied rows
        that agrees most with ``ours``."""
        q = quote_fts_query(query)
        row_of = {k: i for i, k in enumerate(self.keys)}
        seen = {row_of[k]: (nm, -s) for k, nm, s in ours if k in row_of}
        try:
            rank_n, sure_n, tied_n, need_n = self._branch(True, q, top_k)
            rank_c, sure_c, tied_c, need_c = self._branch(False, q, top_k)
        except sqlite3.OperationalError:  # FTS5 rejects it: the reference returns nothing
            return []

        def pick(tied, need, cost):
            return set(sorted(tied, key=lambda r: (cost(r), r))[:need])

        # name branch: rows shown as name matches first, rows shown as
        # content-only matches never
        sel_n = sure_n | pick(tied_n, need_n,
                              lambda r: 1 if r not in seen else (0 if seen[r][0] else 2))

        def cost_c(r):
            if r not in seen:
                return 1
            rank = seen[r][1]
            if _same(rank, rank_c[r]):
                return 0  # its shown score is the content-branch rank
            if r in sel_n and rank_c[r] < rank_n[r]:
                return 2  # selecting it would have improved its score
            return 0

        sel_c = sure_c | pick(tied_c, need_c, cost_c)
        merged = {}
        for r in sel_n | sel_c:
            ranks = ([rank_n[r]] if r in sel_n else []) + ([rank_c[r]] if r in sel_c else [])
            merged[r] = (r in sel_n, min(ranks))
        best = sorted(merged.items(), key=lambda kv: (not kv[1][0], kv[1][1], kv[0]))[:top_k]
        return [(self.keys[r], nm, -rank) for r, (nm, rank) in best]


def rank_identical(ours: list[tuple], want: list[tuple], top_k: int) -> bool:
    """ours/want: [((repo, path), name_match, score)] best-first, compared
    with the parity suite's rule."""
    try:
        assert_rank_identical(ours, want, top_k)
    except AssertionError:
        return False
    return True


class DocMap:
    """doc_id -> (repo, path) from the files behind the index's public
    ``doc_stats`` handle (read outside every timed window). Doc ids are
    never reused, so entries only accumulate."""

    def __init__(self):
        self.map: dict[int, tuple] = {}

    def refresh(self, index) -> None:
        import pyarrow.parquet as pq

        for f in index.doc_stats.inputFiles():
            t = pq.read_table(f.removeprefix("file:"), columns=["doc_id", "repo", "path"])
            self.map.update(zip(t["doc_id"].to_pylist(),
                                zip(t["repo"].to_pylist(), t["path"].to_pylist())))

    def rows(self, spark_rows) -> list[tuple]:
        return [(self.map.get(int(r["doc_id"])), bool(r["name_match"]), float(r["score"]))
                for r in spark_rows]
