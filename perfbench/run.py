"""sparkgrep benchmark: one closed-loop client against the public API.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Each run builds the workload's seeded
corpus into a fresh index (``build_index``), sets up a session several
times (session start + index open + warm-up), then serves a seeded query
stream for ``--seconds`` with one client (``search``/``search_batch``,
one request at a time), and finally applies a fixed number of commits
(``incremental_update``), each followed by a freshness search, no-op
re-commits and two stream searches. Every timed result is checked
against the SQLite FTS5 oracle outside the timed windows.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records spans
around the calls into each layer and prints the per-layer metrics. The
last line of stdout is one JSON object: correct, attempted, failed,
metrics. Context (host probes, session sizing, sample counts) goes to
the lines before it. Exits 1 when any result is wrong, 2 when the
engine cannot be imported or assertions are off (``-O``).

Workloads and the metric-to-layer map are described in README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

TOP_K = 32
BATCH_SIZE = 16
SETUPS = 3
# the first build in a JVM pays its warm-up whatever its size, so the warm
# build is small; it runs one block per core so that every Python worker
# the timed build uses is already up
WARM_BUILD_FILES = 20
# the read window also runs until it has this many batches, and until it
# has the workload's ``min_singles`` single searches
MIN_BATCHES = 6

WORKLOADS = {
    # one repository under the driver-direct byte gate: zero-job searches.
    # 100 singles put the tail at p90 or above. A build takes under 3 s
    # and one alone moves by a fifth between runs, so it is timed 3 times.
    "repo_direct": {
        "shape": {"docs": 500, "code_repos": 1, "files_per_repo": 3500,
                  "single_repo": "repo-00000"},
        "blocks": 4, "builds": 3, "commits": 1, "singles_per_batch": 12,
        "min_singles": 100,
    },
    # a fleet of 2.25k repositories: every search is a Spark job of about
    # 0.5 s, so the run's time budget holds 50 singles (tail at p80)
    "fleet_cluster": {
        "shape": {"docs": 2500, "code_repos": 2250, "files_per_repo": 10},
        "blocks": 16, "builds": 1, "commits": 1, "singles_per_batch": 8,
        "min_singles": 50,
    },
}
COMMIT_FRAC = 0.01
# no-op re-commits after each commit; one alone moves by a third between runs
NOOPS = 3

INCREMENTAL_STAGES = [
    "load_index", "sha_gate_probe", "dead_checkpoint",
    "tombstone_stats_and_offset", "dead_pblocks_list",
    "new_docs_checkpoint_and_agg", "doc_stats_append", "postings_append",
    "deletes_append", "corpus_stats_write", "incr_manifest_footer_metrics",
    "presence_delta", "reload_index", "phrase_df_delta",
]
# the stages a commit that changes nothing may run
NOOP_STAGES = {"load_index", "sha_gate_probe"}


def log(*parts) -> None:
    print(*parts, flush=True)


def host_probe(nproc: int) -> dict:
    """tools/hw_control.py (numpy sort, no Spark) at 1 and nproc workers,
    in a fresh process; a short task count keeps it to a few seconds."""
    code = (
        "import json, sys; sys.path.insert(0, 'tools'); import hw_control; "
        f"print(json.dumps({{w: hw_control.run(w, tasks=2 * w) for w in (1, {nproc})}}))"
    )
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                         capture_output=True, text=True, timeout=120)
    if out.returncode != 0:
        return {"error": out.stderr.strip().splitlines()[-1:]}
    return {f"np_sort_{w}w_s": v for w, v in json.loads(out.stdout).items()}


def tree_peak_rss_mb() -> tuple[float, dict]:
    """Sum of peak RSS (VmHWM) over this process and its descendants (the
    driver, the JVM and the Python workers), and its split by command."""
    parent: dict[int, int] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
            parent[int(stat.split("/")[2])] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    mine, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in mine:
                mine.add(c)
                frontier.append(c)
    by_cmd: dict[str, float] = {}
    for p in mine:
        try:
            with open(f"/proc/{p}/comm") as f:
                cmd = f.read().strip()
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        by_cmd[cmd] = by_cmd.get(cmd, 0.0) + int(line.split()[1]) / 1024.0
        except OSError:
            continue
    return sum(by_cmd.values()), {k: round(v, 1) for k, v in sorted(by_cmd.items())}


def dir_files(path: str) -> dict[str, int]:
    """{relative path: size} of every file under ``path``."""
    return {os.path.relpath(os.path.join(d, f), path): os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(path) for f in files}


def dir_bytes(path: str) -> int:
    return sum(dir_files(path).values())


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile with at least ten
    samples beyond it."""
    s = sorted(values)
    i = max(0, len(s) - 11)
    return s[i], 100.0 * (i + 1) / len(s)


class Session:
    """The Spark session sized to this host, restartable in-process."""

    def __init__(self, work: str, nproc: int, heap: str):
        self.work, self.nproc, self.heap = work, nproc, heap
        self.spark = None

    def start(self):
        from codebased_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark(
            master=f"local[{self.nproc}]",
            extra_conf={
                "spark.driver.memory": self.heap,
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(self.work, "local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self):
        """Stop the session, then end the gateway JVM (it exits when its
        stdin closes) and wait for it."""
        self.stop()
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


class Jobs:
    """Spark jobs and tasks per operation, from the status tracker, with
    one job group per operation (traced runs only)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.per_kind: dict[str, list[tuple[int, int, int, str]]] = {}
        self.seq = 0

    def begin(self, spark) -> str | None:
        if not self.enabled:
            return None
        self.seq += 1
        gid = f"perfbench-op-{self.seq}"
        spark.sparkContext.setJobGroup(gid, gid)
        return gid

    def end(self, spark, gid: str | None, kind: str, query: str = "") -> None:
        if gid is None:
            return
        st = spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                si = st.getStageInfo(sid)
                if si:
                    tasks += si.numTasks
                    failed += si.numFailedTasks
        self.per_kind.setdefault(kind, []).append((len(jobs), tasks, failed, query))

    def mean(self, kind: str, field: int, skip=frozenset()) -> float:
        rows = [r for r in self.per_kind.get(kind, []) if r[3] not in skip]
        return sum(r[field] for r in rows) / len(rows) if rows else 0.0

    def failures(self) -> int:
        return sum(r[2] for rows in self.per_kind.values() for r in rows)


def run(args, sess: Session) -> int:
    spec = WORKLOADS[args.workload]
    nproc, heap, work = sess.nproc, sess.heap, sess.work
    base = os.path.dirname(os.path.dirname(work))
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    # the engine's own routing and sizing decisions stay in force
    dropped = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    for k in dropped:
        del os.environ[k]

    from perfbench import inputs
    from perfbench.check import DocMap, Oracle
    from perfbench.trace import Tracer

    phases: dict[str, float] = {}
    t_lap = [time.perf_counter()]

    def lap(name):
        now = time.perf_counter()
        phases[name] = round(now - t_lap[0], 2)
        t_lap[0] = now

    ctx: dict = {"workload": args.workload, "seed": args.seed, "nproc": nproc,
                 "master": f"local[{nproc}]", "driver_heap": heap,
                 "dropped_env": dropped, "host_probe_before": host_probe(nproc)}

    corpus_path, corpus = inputs.load(os.path.join(base, "cache"), args.workload,
                                      spec["shape"], args.seed)
    n_files = len(corpus["path"])
    stream = inputs.QueryStream(corpus, args.seed, "stream")
    warm_log = inputs.QueryStream(corpus, args.seed, "warmup").take(400)
    changes = inputs.make_changes(corpus, args.seed, spec["commits"], COMMIT_FRAC)
    oracle = Oracle(corpus)
    docmap = DocMap()
    lap("inputs_and_oracle")
    tracer = Tracer(bool(args.trace))
    jobs = Jobs(bool(args.trace))
    attempted = failed = 0
    mismatches: list[str] = []
    pending: list[tuple[str, list]] = []  # (query, engine rows) to check

    def check_pending():
        nonlocal failed
        for q, rows in pending:
            if not oracle.verify(q, TOP_K, docmap.rows(rows)):
                failed += 1
                mismatches.append(q)
        pending.clear()

    from codebased_spark.operators.phrasedf import (
        build_phrase_df,
        hot_phrases_from_query_log,
    )
    from codebased_spark.plans.engine import FtsIndex, build_index
    from codebased_spark.streaming.incremental import incremental_update

    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = sess.start()
    session_start_s = time.perf_counter() - t0
    lap("session_start")

    idx_dir = os.path.join(work, "index")
    corpus_df = spark.read.parquet(corpus_path)
    # a small build first, so the timed build runs on a warm JVM and warm
    # Python workers, as every build after a process's first one does
    build_index(spark, corpus_df.limit(WARM_BUILD_FILES), os.path.join(work, "warm_index"),
                num_blocks=nproc)
    lap("warm_build")
    build_times = []
    for i in range(spec["builds"]):
        # the last build is the index the run serves; earlier ones are
        # timed and removed
        out = idx_dir if i == spec["builds"] - 1 else os.path.join(work, "build_probe")
        t0 = time.perf_counter()
        with tracer.span("engine.build_index"):
            index = build_index(spark, corpus_df, out, num_blocks=spec["blocks"])
        build_times.append(time.perf_counter() - t0)
        if out != idx_dir:
            shutil.rmtree(out)
    build_s = statistics.median(build_times)
    lap("build")
    hot = hot_phrases_from_query_log(warm_log)
    t0 = time.perf_counter()
    with tracer.span("phrasedf.build"):
        build_phrase_df(spark, index, hot)
    phrasedf_build_s = time.perf_counter() - t0
    postings_bytes_built = index.postings_bytes
    lap("phrase_df")
    ctx.update(files=n_files, blocks=spec["blocks"], postings_bytes=postings_bytes_built,
               hot_phrases=len(hot))

    # set-up: session start + index open + warm-up, several times
    warm_queries = [f"{hot[0]} {hot[1]}"]
    stream.used.update(warm_queries)  # the timed stream must miss the memo
    setups, open_s = [], []
    for _ in range(SETUPS):
        sess.stop()
        t0 = time.perf_counter()
        with tracer.span("setup"):
            with tracer.span("session.restart"):
                spark = sess.start()
            t1 = time.perf_counter()
            with tracer.span("engine.open"):
                index = FtsIndex(spark, idx_dir)
            open_s.append(time.perf_counter() - t1)
            with tracer.span("query.warmup"):
                warm_rows = [index.search(q, TOP_K).collect() for q in warm_queries]
        setups.append(time.perf_counter() - t0)
        attempted += len(warm_queries)
        pending.extend(zip(warm_queries, warm_rows))
    docmap.refresh(index)
    check_pending()
    ctx["route_direct"] = bool(index.driver_direct)
    lap("setups")

    # the read window: one client, closed loop, for --seconds
    singles, batches, result_rows, traced_lat, plain_lat = [], [], [], [], []
    stream_queries: list[str] = []
    period = spec["singles_per_batch"] + 1
    t_end = time.perf_counter() + args.seconds
    n_op = 0
    while (time.perf_counter() < t_end or len(singles) < spec["min_singles"]
           or len(batches) < MIN_BATCHES):
        tracer.enabled = bool(args.trace) and n_op % 2 == 0
        tracer.new_op()
        gid = jobs.begin(spark)
        if n_op % period == period - 1:
            qs = stream.take(BATCH_SIZE)
            t0 = time.perf_counter()
            with tracer.span("query.batch"):
                rows = index.search_batch(qs, TOP_K).collect()
            batches.append(time.perf_counter() - t0)
            jobs.end(spark, gid, "batch")
            by_q: dict[int, list] = {i: [] for i in range(len(qs))}
            for r in rows:
                by_q[int(r["qid"])].append(r)
            for i, q in enumerate(qs):
                pending.append((q, sorted(by_q[i], key=lambda r: (-r["name_match"], r["rank"]))))
            attempted += len(qs)
            stream_queries.extend(qs)
        else:
            q = stream.next()
            t0 = time.perf_counter()
            with tracer.span("query.search"):
                with tracer.span("query.search_call"):
                    df = index.search(q, TOP_K)
                with tracer.span("query.collect"):
                    rows = df.collect()
            dt = time.perf_counter() - t0
            jobs.end(spark, gid, "search", q)
            singles.append(dt)
            (traced_lat if tracer.enabled else plain_lat).append(dt)
            result_rows.append(len(rows))
            pending.append((q, rows))
            attempted += 1
            stream_queries.append(q)
        n_op += 1
    tracer.enabled = bool(args.trace)
    lap("read_window")
    check_pending()
    read_index = index
    lap("read_checks")

    # commits: each followed by a freshness search, no-op re-commits and
    # two stream searches
    import pandas as pd

    corpus_bytes = sum(len(c.encode()) for c in corpus["content"])
    fresh, noop, stage_rows, commit_wall, written = [], [], [], [], []
    post_commit = []
    for ch in changes:
        pdf = pd.DataFrame({c: [corpus[c][i] for i in ch["rows"]]
                            for c in inputs.CORPUS_COLUMNS})
        pdf["content"] = ch["content"]
        batch_df = spark.createDataFrame(pdf)
        before = dir_bytes(idx_dir)
        tracer.new_op()
        gid = jobs.begin(spark)
        stages: dict = {}
        t0 = time.perf_counter()
        with tracer.span("incremental.commit"):
            index = incremental_update(spark, idx_dir, batch_df, rebuild_phrase_df=True,
                                       stage_timings=stages)
        t_commit = time.perf_counter() - t0
        with tracer.span("query.fresh_search"):
            rows = index.search(ch["marker"], TOP_K).collect()
        fresh.append(time.perf_counter() - t0)
        jobs.end(spark, gid, "commit")
        commit_wall.append(t_commit)
        stage_rows.append(stages)
        changed_bytes = sum(len(c.encode()) for c in ch["content"])
        written.append((dir_bytes(idx_dir) - before) / changed_bytes)
        oracle.apply(ch["rows"], ch["content"])
        for i, c in zip(ch["rows"], ch["content"]):
            corpus["content"][i] = c
        changed_keys = {(corpus["repo"][i], corpus["path"][i]) for i in ch["rows"]}
        docmap.refresh(index)
        got = docmap.rows(rows)
        attempted += 1
        if len(got) != min(TOP_K, len(ch["rows"])) or any(k not in changed_keys for k, _, _ in got):
            failed += 1
            mismatches.append(f"fresh:{ch['marker']}")
        pending.append((ch["marker"], rows))

        files_before = dir_files(idx_dir)
        for _ in range(NOOPS):
            noop_stages: dict = {}
            t0 = time.perf_counter()
            with tracer.span("incremental.noop_commit"):
                index = incremental_update(spark, idx_dir, batch_df, stage_timings=noop_stages)
            noop.append(time.perf_counter() - t0)
            attempted += 1
            # the sha gate must pass nothing: no stage past it runs and no
            # index file is written
            if (set(noop_stages) - NOOP_STAGES) or dir_files(idx_dir) != files_before:
                failed += 1
                mismatches.append(f"noop:{ch['marker']}:{sorted(noop_stages)}")
        for q in stream.take(2):
            t0 = time.perf_counter()
            rows = index.search(q, TOP_K).collect()
            post_commit.append(time.perf_counter() - t0)
            pending.append((q, rows))
            attempted += 1
        check_pending()

    lap("commits")
    live_bytes = sum(len(c.encode()) for c in corpus["content"])
    index_ratio = dir_bytes(idx_dir) / live_bytes
    peak_rss, ctx["peak_rss_mb_by_command"] = tree_peak_rss_mb()
    ctx["peak_rss_mb"] = round(peak_rss, 1)

    if args.trace:
        from perfbench import layers

        metrics = layers.per_layer(
            spark=spark, sess=sess, index=index, read_index=read_index,
            idx_dir=idx_dir, corpus=corpus, corpus_df=spark.read.parquet(corpus_path),
            spec=spec, tracer=tracer, jobs=jobs, stream_queries=stream_queries,
            session_start_s=session_start_s, build_s=build_s,
            phrasedf_build_s=phrasedf_build_s, open_s=open_s, singles=singles,
            batches=batches, result_rows=result_rows, stage_rows=stage_rows,
            commit_wall=commit_wall, written=written, stages=INCREMENTAL_STAGES,
            postings_bytes=postings_bytes_built, corpus_bytes=corpus_bytes,
            peak_rss_mb=peak_rss, traced_lat=traced_lat,
            plain_lat=plain_lat, batch_size=BATCH_SIZE, ctx=ctx,
        )
        failed += metrics.pop("_failed", 0)
        tracer.dump(os.path.join(work, "spans.jsonl"))
        ctx["span_self_s"] = {k: round(v, 4) for k, v in sorted(tracer.self_times().items())}
    sess.stop()
    lap("layers_and_stop")

    tail_s, tail_pct = tail(singles)
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "build_files_per_s": (n_files / build_s, "files/s"),
        "search_p50_s": (statistics.median(singles), "s"),
        "search_tail_s": (tail_s, "s"),
        "batch_qps": (BATCH_SIZE * len(batches) / sum(batches), "queries/s"),
        "fresh_p50_s": (statistics.median(fresh), "s"),
        "noop_commit_p50_s": (statistics.median(noop), "s"),
        "index_bytes_per_corpus_byte": (index_ratio, "ratio"),
    }
    ctx.update(
        searches=len(singles), batches=len(batches), commits=len(fresh),
        search_tail_percentile=round(tail_pct, 1), search_tail_samples_beyond=10,
        post_commit_search_p50_s=statistics.median(post_commit) if post_commit else None,
        setups_s=[round(s, 4) for s in setups], session_start_s=round(session_start_s, 3),
        failed_frac=failed / attempted, mismatches=mismatches[:10],
        host_probe_after=host_probe(nproc),
    )
    lap("probe_after")
    ctx["phase_wall_s"] = phases
    if args.trace:
        ctx["traced_e2e"] = {k: round(v, 6) for k, (v, _) in e2e.items()}
    for k, v in ctx.items():
        log(f"# {k}: {json.dumps(v)}")
    out = metrics if args.trace else {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    if {m["name"]: m["unit"] for m in declared} != {k: v["unit"] for k, v in out.items()}:
        print("perfbench: emitted metrics differ from BENCHMARK.json", file=sys.stderr)
        return 3
    log(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                    "metrics": out}))
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if sys.flags.optimize:
        print("perfbench: the result checks need assertions; run without -O", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "codebased_spark", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    nproc = len(os.sched_getaffinity(0))
    mem_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    work = os.path.join(ROOT, ".perfbench", "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    sess = Session(work, nproc, heap=f"{int(max(1, min(4, mem_gib // 3)))}g")
    try:
        return run(args, sess)
    finally:
        sess.close()


if __name__ == "__main__":
    sys.exit(main())
