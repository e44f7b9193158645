"""Per-layer metrics of a traced run.

Layer names are the engine's module names. Each number is taken at a
public function of that layer, from outside the engine: spans recorded
around the run's own calls, the status tracker's job counts, and probes
run after the timed windows over the run's own index, queries and
corpus. README.md maps each metric to the end-to-end metric it should
move.
"""

from __future__ import annotations

import math
import os
import statistics
import time


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _timed(fn, reps: int = 1):
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return _median(out)


def _query_terms(queries):
    """[(query, phrases, [[term, ...] per phrase])] for queries whose
    every phrase has trigrams (shorter phrases never reach a shard)."""
    from codebased_spark.functions.fts5 import phrase_terms, query_phrases

    out = []
    for q in queries:
        phrases = query_phrases(q)
        terms = [phrase_terms(p) for p in phrases]
        if phrases and all(terms):
            out.append((q, phrases, terms))
    return out


def _presence(index, parsed) -> dict[str, tuple[float, bool]]:
    """{query: (fraction of shards it must scan, proven empty with zero
    reads)}, from the public TermBlocks lookup and the pruning rule
    documented in operators.query."""
    shards = index.posting_files
    tb = index.term_blocks
    if tb is None or not shards:
        return {q: (1.0, False) for q, _, _ in parsed}
    uncovered = {pb for pb, _ in shards if pb not in tb.covered}
    out = {}
    for q, phrases, terms in parsed:
        bmap = tb.blocks_for(sorted({t for ts in terms for t in ts}))
        per_phrase = []
        for ts in terms:
            s = set(bmap[ts[0]])
            for t in ts[1:]:
                s &= bmap[t]
            per_phrase.append(s)
        if not uncovered and any(not s for s in per_phrase):
            out[q] = (0.0, True)
            continue
        if all(p in index.phrase_dfs for p in phrases):
            allowed = set.intersection(*per_phrase)
        else:
            allowed = set.union(*per_phrase)
        out[q] = (sum(1 for pb, _ in shards if pb in allowed or pb in uncovered)
                  / len(shards), False)
    return out


def _footer_overlap(index, parsed):
    """Mean fraction of a shard's row groups whose [min, max] term range
    overlaps a term the query needs, over (query, shard) pairs."""
    import pyarrow.parquet as pq

    ranges = []
    for _pb, path in index.posting_files:
        md = pq.ParquetFile(path).metadata
        col = next(i for i in range(md.num_columns) if md.schema.column(i).path == "term")
        rg = []
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(col).statistics
            if st is not None and st.has_min_max:
                rg.append((st.min, st.max))
        ranges.append(rg)
    fracs = []
    for _q, _p, terms in parsed:
        needed = sorted({t for ts in terms for t in ts})
        for rg in ranges:
            if rg:
                hit = sum(1 for lo, hi in rg if any(lo <= t <= hi for t in needed))
                fracs.append(hit / len(rg))
    return sum(fracs) / len(fracs) if fracs else 0.0


def _shard_read(index, parsed):
    """Median pyarrow term-filtered read of the largest posting shard."""
    import pyarrow.parquet as pq

    path = max((p for _, p in index.posting_files), key=os.path.getsize)
    times = []
    for _q, _p, terms in parsed[:20]:
        needed = sorted({t for ts in terms for t in ts})
        t0 = time.perf_counter()
        pq.read_table(path, filters=[("term", "in", needed)])
        times.append(time.perf_counter() - t0)
    return _median(times)


def _codec(index, max_rows: int = 4000):
    """(decoded postings/s, encoded postings/s, mismatches) over the
    posting rows of the largest shard: decode every stream, re-encode,
    and require byte-identical output."""
    import numpy as np
    import pyarrow.parquet as pq

    from codebased_spark.functions.codec import (
        decode_doc_ids_chunked,
        decode_positions,
        decode_varint,
        encode_posting_chunked,
    )

    path = max((p for _, p in index.posting_files), key=os.path.getsize)
    tbl = pq.read_table(path, columns=["doc_bytes", "tf_bytes", "pos_bytes", "dl_bytes",
                                       "skip_last", "skip_doc_off"]).slice(0, max_rows)
    rows = tbl.to_pylist()
    t0 = time.perf_counter()
    decoded = []
    for r in rows:
        tfs = decode_varint(r["tf_bytes"])
        decoded.append((decode_doc_ids_chunked(r["doc_bytes"]), tfs,
                        decode_positions(r["pos_bytes"], tfs), decode_varint(r["dl_bytes"])))
    t_dec = time.perf_counter() - t0
    postings = sum(d[0].size for d in decoded)
    t0 = time.perf_counter()
    encoded = [encode_posting_chunked(*d) for d in decoded]
    t_enc = time.perf_counter() - t0
    bad = 0
    for r, e in zip(rows, encoded):
        same = (e[0] == r["doc_bytes"] and e[1] == r["tf_bytes"] and e[2] == r["pos_bytes"]
                and e[3] == r["dl_bytes"]
                and np.array_equal(e[4], np.asarray(r["skip_last"], dtype=np.int64))
                and np.array_equal(e[7], np.asarray(r["skip_doc_off"], dtype=np.int64)))
        bad += not same
    return postings / t_dec, postings / t_enc, bad


def _curation(spark, corpus):
    """(gates_s, lsh_pairs_s, len_cost_exponent, mismatches).

    Gates run over the corpus's prose documents plus seeded exact and
    prefix duplicates, checked against the DuckDB CURATE_SQL oracle. The
    length exponent is the slope of log LSH time (less the time for a
    short document) against log document length."""
    import duckdb
    import pandas as pd

    from __spark_entry__ import CURATE_SQL
    from codebased_spark.operators.curate import curate_corpus
    from codebased_spark.operators.dedup import lsh_candidate_pairs

    # prose documents live under d... (fleet) or docs/ (single repo)
    prose = [c for p, c in zip(corpus["path"], corpus["content"]) if p.startswith("d")][:800]
    texts = prose + prose[:40] + [" ".join(t.split()[:5]) + " tail" for t in prose[40:80]]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    df = spark.createDataFrame(pdf).cache()
    df.count()
    got = {}
    t0 = time.perf_counter()
    for r in curate_corpus(df, near_dup=False).collect():
        got[int(r["doc_id"])] = (bool(r["keep"]), r["drop_reason"])
    gates_s = time.perf_counter() - t0
    con = duckdb.connect()
    con.register("documents", pdf)
    want = {int(r[0]): (bool(r[1]), r[2]) for r in con.execute(CURATE_SQL).fetchall()}
    con.close()
    bad = int(got != want)
    lsh_s = _timed(lambda: lsh_candidate_pairs(df).count())
    df.unpersist()

    code = "\n".join(c for p, c in zip(corpus["path"], corpus["content"])
                     if not p.startswith("d"))

    def lsh_one(n_chars):
        one = spark.createDataFrame(pd.DataFrame({"doc_id": [0], "text": [code[:n_chars]]}))
        return _timed(lambda: lsh_candidate_pairs(one).count(), reps=2)

    base = lsh_one(200)
    lengths = [4000, 8000, 16000]
    xs, ys = [], []
    for n in lengths:
        dt = lsh_one(n) - base
        if dt > 0:
            xs.append(math.log(n))
            ys.append(math.log(dt))
    slope = 0.0
    if len(xs) >= 2:
        mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
        slope = (sum((x - mx) * (y - my) for x, y in zip(xs, ys))
                 / sum((x - mx) ** 2 for x in xs))
    return gates_s, lsh_s, slope, bad


def _noop_job(spark, nproc: int) -> float:
    """One-task-per-core identity mapInPandas job: the Spark job floor."""

    def ident(it):
        yield from it

    df = spark.range(0, nproc, 1, nproc)
    return _timed(lambda: df.mapInPandas(ident, "id long").collect(), reps=5)


def _files_listed_per_open(spark, idx_dir: str) -> int:
    """Files the plans.fsio listings return while one index opens."""
    from codebased_spark.plans import fsio
    from codebased_spark.plans.engine import FtsIndex

    seen = []
    orig = fsio.IndexFS.list_files

    def counting(self, path):
        out = orig(self, path)
        seen.append(len(out))
        return out

    fsio.IndexFS.list_files = counting
    try:
        FtsIndex(spark, idx_dir)
    finally:
        fsio.IndexFS.list_files = orig
    return sum(seen)


def per_layer(*, spark, sess, index, read_index, idx_dir, corpus, corpus_df, spec,
              tracer, jobs, stream_queries, session_start_s, build_s,
              phrasedf_build_s, open_s, singles, batches, result_rows, stage_rows,
              commit_wall, written, stages, postings_bytes, corpus_bytes, peak_rss_mb, traced_lat,
              plain_lat, batch_size, ctx) -> dict:
    from codebased_spark.functions.fts5 import query_phrases, tokenize_packed
    from codebased_spark.operators.build import build_postings_fused
    from codebased_spark.operators.docs import build_docs
    from codebased_spark.operators.presence import build_term_blocks
    from codebased_spark.plans.engine import POSTING_ROW_GROUP_BYTES
    from codebased_spark.streaming.incremental import tombstone_ratio

    m: dict = {}
    failed = 0

    def put(name, value, unit):
        m[name] = {"value": float(value), "unit": unit}

    parsed = _query_terms(stream_queries)

    presence = _presence(read_index, parsed)
    # searches the presence table proves empty never reach a shard on
    # any route; the job counts are over the searches that read
    proven_empty = frozenset(q for q, (_, empty) in presence.items() if empty)

    ctx["zero_job_reading_searches"] = [r[3] for r in jobs.per_kind.get("search", [])
                                        if r[0] == 0 and r[3] not in proven_empty][:10]
    put("session.start_s", session_start_s, "s")
    put("session.noop_job_s", _noop_job(spark, sess.nproc), "s")
    put("session.jobs_per_search", jobs.mean("search", 0, proven_empty), "count")
    put("session.tasks_per_search", jobs.mean("search", 1, proven_empty), "count")
    put("session.jobs_per_commit", jobs.mean("commit", 0), "count")
    put("session.task_failures", jobs.failures(), "count")
    put("session.peak_rss_mb", peak_rss_mb, "MiB")

    reps = max(1, 20000 // max(1, len(stream_queries)))
    t0 = time.perf_counter()
    for _ in range(reps):
        for q in stream_queries:
            query_phrases(q)
    put("fts5.parse_us_per_query",
        1e6 * (time.perf_counter() - t0) / (reps * max(1, len(stream_queries))), "us")
    sample = corpus["content"][:3000]
    t0 = time.perf_counter()
    for c in sample:
        tokenize_packed(c)
    put("fts5.tokenize_mb_per_s",
        sum(len(c.encode()) for c in sample) / 1e6 / (time.perf_counter() - t0), "MB/s")

    dec, enc, bad = _codec(read_index)
    failed += bad
    put("codec.decode_postings_per_s", dec, "postings/s")
    put("codec.encode_postings_per_s", enc, "postings/s")

    n = max(1, len(presence))
    put("presence.shards_scanned_frac", sum(f for f, _ in presence.values()) / n, "ratio")
    put("presence.empty_proof_frac", len(proven_empty) / n, "ratio")
    covered = [q for q in stream_queries
               if (ps := query_phrases(q)) and all(p in read_index.phrase_dfs for p in ps)]
    put("phrasedf.covered_frac", len(covered) / max(1, len(stream_queries)), "ratio")
    put("phrasedf.build_s", phrasedf_build_s, "s")

    put("query.search_call_s", _median(tracer.durations("query.search_call")), "s")
    put("query.collect_s", _median(tracer.durations("query.collect")), "s")
    put("query.batch_s_per_query", sum(batches) / max(1, len(batches) * batch_size), "s")
    put("query.route_direct_frac", float(read_index.driver_direct), "ratio")
    put("query.shard_read_s", _shard_read(read_index, parsed), "s")
    put("query.row_groups_overlap_frac", _footer_overlap(read_index, parsed), "ratio")
    ctx["result_rows_per_search"] = round(sum(result_rows) / max(1, len(result_rows)), 2)

    scratch = os.path.join(os.path.dirname(idx_dir), "postings_probe")
    t0 = time.perf_counter()
    docs = build_docs(corpus_df, num_blocks=spec["blocks"]).persist()
    docs.count()
    put("docs.build_s", time.perf_counter() - t0, "s")
    t0 = time.perf_counter()
    build_postings_fused(docs).write.mode("overwrite").option(
        "parquet.block.size", str(POSTING_ROW_GROUP_BYTES)
    ).partitionBy("pblock").parquet(scratch)
    put("build.postings_write_s", time.perf_counter() - t0, "s")
    docs.unpersist()
    put("engine.build_index_s", build_s, "s")
    put("engine.open_s", _median(open_s), "s")
    put("build.bytes_per_corpus_byte", postings_bytes / corpus_bytes, "ratio")
    put("fsio.files_listed_per_open", _files_listed_per_open(spark, idx_dir), "count")

    for st in stages:
        put(f"incremental.{st}_s", _median([r.get(st, 0.0) for r in stage_rows]), "s")
    extra = sorted({k for r in stage_rows for k in r} - set(stages))
    if extra:
        ctx["incremental_unlisted_stages"] = extra
    put("incremental.bytes_written_per_changed_byte", _median(written), "ratio")
    put("incremental.tombstone_ratio", tombstone_ratio(index), "ratio")

    gates_s, lsh_s, slope, bad = _curation(spark, corpus)
    failed += bad
    put("curate.gates_s", gates_s, "s")
    put("dedup.lsh_pairs_s", lsh_s, "s")
    put("dedup.len_cost_exponent", slope, "exponent")

    put("presence.build_s", _timed(lambda: build_term_blocks(spark, idx_dir)), "s")

    p_traced, p_plain = _median(traced_lat), _median(plain_lat)
    put("trace.overhead_frac", p_traced / p_plain - 1.0 if p_plain else 0.0, "ratio")
    put("trace.commit_covered_frac",
        _median([sum(r.values()) / w for r, w in zip(stage_rows, commit_wall)]), "ratio")
    m["_failed"] = failed
    return m
