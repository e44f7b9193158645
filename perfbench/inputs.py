"""Seeded benchmark inputs: corpus, query stream, warm-up log, commits.

Everything here is a pure function of (workload shape, seed). Inputs
are written once per (shape, seed) under the cache directory, so input
generation never enters a timed window and a repeated seed skips it.
The engine only ever receives what this module produced: a corpus
parquet file, query strings and change batches.
"""

from __future__ import annotations

import json
import os
import random
import re

import pyarrow as pa
import pyarrow.parquet as pq

from bench import QUERIES

# Vocabulary of the prose documents (the shape of the sf test data's
# ``documents`` table: short bags of database words).
DOC_WORDS = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream merge "
    "data join vector customer"
).split()
DOC_LANGS = ["en", "en", "en", "fr", "es", "de", "zh"]

# The six query shapes of the repo's headline bench.
REFERENCE_QUERIES = list(QUERIES.values())

# Letters that never meet in either generator's text, so phrases built
# from them are absent from every corpus (checked against the oracle).
_ABSENT_ALPHABET = "jqxzvkw"

CORPUS_COLUMNS = ["repo", "path", "commit", "lang", "content"]

# words (of 3+ characters) joined by single spaces, verbatim in the text
_WORD_RUN = re.compile(r"[A-Za-z_][A-Za-z0-9_]{2,}(?: [A-Za-z_][A-Za-z0-9_]{2,})*")


def _doc_text(rng: random.Random) -> str:
    n_chars = rng.randint(44, 577)
    words: list[str] = []
    size = -1
    while size < n_chars:
        w = rng.choice(DOC_WORDS)
        words.append(w)
        size += len(w) + 1
    return " ".join(words)


def _absent_phrase(rng: random.Random) -> str:
    return "".join(rng.choice(_ABSENT_ALPHABET) for _ in range(rng.randint(5, 8)))


def make_corpus(shape: dict, seed: int) -> dict:
    """Column dict of the corpus (CORPUS_COLUMNS order).

    ``shape`` keys: ``docs`` prose documents, ``code_repos`` x
    ``files_per_repo`` synthetic source files, and ``single_repo`` (all
    rows in one repository, the embedded regime) or a fleet of repos."""
    from codebased_spark.sources.corpus import _commit_for, gen_file

    rng = random.Random(f"corpus:{seed}")
    cols: dict[str, list] = {c: [] for c in CORPUS_COLUMNS}

    def add(repo, path, lang, content):
        cols["repo"].append(repo)
        cols["path"].append(path)
        cols["commit"].append(_commit_for(repo))
        cols["lang"].append(lang)
        cols["content"].append(content)

    single = shape.get("single_repo")
    for i in range(shape["docs"]):
        if single:
            add(single, f"docs/d{i:09d}.txt", rng.choice(DOC_LANGS), _doc_text(rng))
        else:
            add("docs", f"d{i:09d}", rng.choice(DOC_LANGS), _doc_text(rng))
    per_repo = shape["files_per_repo"]
    for r in range(shape["code_repos"]):
        for f in range(per_repo):
            path, lang, content = gen_file(r, f, seed)
            add(single or f"repo-{r:05d}", path, lang, content)
    return cols


# Query kinds per cycle of 20 queries, shuffled within each cycle, so
# every stretch of the stream has the same mix.
#
# The traffic shape is an assumption, not a measured query log: no public
# code-search log was at hand. Fixed by design are the kinds, the six
# reference shapes, the 10% of absent phrases and the never-repeating
# strings. Chosen by judgment are the 2/3/13 split of the other kinds, the
# words per phrase and phrases per query (1-3 each, weighted in
# QueryStream), the 20% quoting of one-word phrases and the Zipf(0.8) skew
# over a 2000-file pool. They set how often presence pruning and the
# phrase-df fast path fire, so search_p50_s, search_tail_s and batch_qps
# depend on them, as do the per-layer presence.*, phrasedf.covered_frac
# and query.row_groups_overlap_frac.
KIND_CYCLE = ["reference"] * 2 + ["absent"] * 2 + ["path"] * 3 + ["phrases"] * 13


class QueryStream:
    """Seeded, never-repeating query strings.

    Mix (KIND_CYCLE): the six reference shapes (re-cased when reused, so
    every string is new to the engine's per-query memo), 1-3 phrase
    queries drawn Zipf-skewed from a pool of corpus phrases (some
    quoted), path fragments that hit the ``name`` column, and 10%
    phrases absent from the corpus."""

    def __init__(self, corpus: dict, seed: int, salt: str, pool_size: int = 2000):
        self.rng = random.Random(f"queries:{salt}:{seed}")
        rng = random.Random(f"pool:{seed}")
        contents = corpus["content"]
        # pool entry = the verbatim word runs of one corpus file, so the
        # phrases of one query co-occur in at least that file
        pool: list[list[str]] = []
        while len(pool) < pool_size:
            runs = _WORD_RUN.findall(contents[rng.randrange(len(contents))])
            if runs:
                pool.append(runs)
        self.pool = pool
        # Zipf(0.8) over pool rank (an assumed skew): phrases of a few
        # files recur often, while no single file dominates the stream's cost
        self.weights = [1.0 / (r + 1) ** 0.8 for r in range(len(pool))]
        self.paths = corpus["path"]
        self.used: set[str] = set()
        self.ref_uses = 0
        self.kinds: list[str] = []

    def _phrase(self, runs: list[str]) -> str:
        words = self.rng.choice(runs).split(" ")
        k = min(len(words), self.rng.choice((1, 1, 2, 3)))
        start = self.rng.randrange(len(words) - k + 1)
        p = " ".join(words[start:start + k])
        return f'"{p}"' if k > 1 or self.rng.random() < 0.2 else p

    def _draw(self, kind: str) -> str:
        if kind == "reference":
            q = REFERENCE_QUERIES[self.ref_uses % len(REFERENCE_QUERIES)]
            self.ref_uses += 1
            return "".join(c.upper() if self.rng.random() < 0.3 else c for c in q)
        if kind == "absent":
            parts = [_absent_phrase(self.rng)]
            if self.rng.random() < 0.5:
                parts.append(self._phrase(self.rng.choices(self.pool, self.weights)[0]))
            return " ".join(parts)
        if kind == "path":
            path = self.paths[self.rng.randrange(len(self.paths))]
            stem = path.rsplit("/", 1)[-1]
            return stem.rsplit(".", 1)[0] if self.rng.random() < 0.5 else path
        runs = self.rng.choices(self.pool, self.weights)[0]
        return " ".join(self._phrase(runs) for _ in range(self.rng.choice((1, 2, 2, 3))))

    def next(self) -> str:
        if not self.kinds:
            self.kinds = list(KIND_CYCLE)
            self.rng.shuffle(self.kinds)
        kind = self.kinds.pop()
        while True:
            q = self._draw(kind)
            if q not in self.used:
                self.used.add(q)
                return q

    def take(self, n: int) -> list[str]:
        return [self.next() for _ in range(n)]


def make_changes(corpus: dict, seed: int, n_commits: int, frac: float) -> list[dict]:
    """``n_commits`` disjoint seeded subsets of ``frac`` of the files,
    each with a unique marker phrase appended to every changed file."""
    rng = random.Random(f"changes:{seed}")
    n = len(corpus["path"])
    per = max(1, int(n * frac))
    rows = rng.sample(range(n), per * n_commits)
    out = []
    for k in range(n_commits):
        marker = "mark" + "".join(rng.choice(_ABSENT_ALPHABET) for _ in range(6)) + f"c{k}"
        sel = sorted(rows[k * per:(k + 1) * per])
        out.append({"marker": marker, "rows": sel,
                    "content": [corpus["content"][i] + f"\n// {marker}\n" for i in sel]})
    return out


def load(cache_dir: str, name: str, shape: dict, seed: int) -> tuple[str, dict]:
    """(corpus parquet path, corpus columns) for (shape, seed), generated
    on first use and read back from the cache afterwards."""
    key = f"{name}-{shape['docs']}-{shape['code_repos']}x{shape['files_per_repo']}-s{seed}"
    d = os.path.join(cache_dir, key)
    path = os.path.join(d, "corpus.parquet")
    done = os.path.join(d, "DONE")
    if os.path.exists(done):
        tbl = pq.read_table(path)
        return path, {c: tbl[c].to_pylist() for c in CORPUS_COLUMNS}
    os.makedirs(d, exist_ok=True)
    cols = make_corpus(shape, seed)
    pq.write_table(pa.table(cols), path)
    with open(done, "w") as f:
        json.dump({"rows": len(cols["path"])}, f)
    return path, cols
