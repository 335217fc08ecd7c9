"""Lifecycle contract for materialized query intermediates (r14
verdict item 2): persist() entries registered during query
construction must be releasable, and a long session that releases
after each query keeps the CacheManager bounded — the measured
failure mode was ~30% planner drag from 12 accumulated entries
(OPTIMIZATION_r14.md).  Also the build-once ``.cache`` seam: keys
follow table content and the cache root, commits are all-or-nothing,
and concurrent builders (processes or threads, alive or killed) commit
one build."""

from __future__ import annotations

import multiprocessing
import os
import shutil
import signal
import threading
import time

import pytest
from pyspark.sql import functions as F

from database_per_keyword_analysis_spark import materialize as M
from database_per_keyword_analysis_spark.operators import graph as G


def _n_cached(spark) -> int:
    """Entries currently registered in Catalyst's CacheManager."""
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


def test_track_returns_df_and_registers(spark):
    df = spark.range(5).persist()
    before = M.n_tracked()
    out = M.track(df)
    assert out is df
    assert M.n_tracked() == before + 1
    M.release_materialized()
    assert M.n_tracked() == 0


def test_release_unpersists_and_result_recomputes(spark):
    spark.catalog.clearCache()
    M.release_materialized()
    edges = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("b", "y"), ("c", "y")],
        "src string, dst string",
    )
    df = G.pagerank_fixed(edges, iters=1)
    want = sorted(tuple(r) for r in df.collect())
    assert M.n_tracked() >= 1  # the DISK_ONLY edge persist registered
    assert _n_cached(spark) >= 1
    released = M.release_materialized()
    assert released >= 1
    assert _n_cached(spark) == 0
    # the returned DataFrame stays valid: consuming it again silently
    # recomputes from its inputs with identical results
    assert sorted(tuple(r) for r in df.collect()) == want


def test_min_cost_supplier_materialized_equals_lazy(spark, sf_dir):
    # r15 scale gate: the checkpointed-offers arm (sf1 regime) must be
    # bit-equal to the lazy arm (sf0.1 regime) — the gate only moves
    # WHEN the aggregate materializes, never what it computes
    from database_per_keyword_analysis_spark.operators import relational as R
    from database_per_keyword_analysis_spark.sources.loader import load

    args = [
        load(spark, sf_dir, t)
        for t in ("lineitem", "supplier", "nation", "region", "part")
    ]
    lazy = sorted(tuple(r) for r in R.min_cost_supplier(*args).collect())
    mat = sorted(
        tuple(r)
        for r in R.min_cost_supplier(*args, materialize_offers=True).collect()
    )
    assert mat == lazy


def test_token_js_matrix_materialized_equals_lazy(spark, sf_dir):
    from database_per_keyword_analysis_spark.operators import textquality as TQ
    from database_per_keyword_analysis_spark.sources.loader import load

    docs = load(spark, sf_dir, "documents")
    lazy = sorted(tuple(r) for r in TQ.token_js_matrix(docs).collect())
    mat = sorted(
        tuple(r)
        for r in TQ.token_js_matrix(docs, materialize_counts=True).collect()
    )
    assert mat == lazy


def test_cache_entries_bounded_across_50_sequential_invocations(spark):
    """The long-session story: 50 sequential persist-using query
    constructions, each released when its consumer finishes — the
    CacheManager never grows past one query's own entries."""
    spark.catalog.clearCache()
    M.release_materialized()
    edges = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("b", "y"), ("c", "y"), ("c", "z")],
        "src string, dst string",
    )
    peak = 0
    for i in range(50):
        df = G.pagerank_fixed(edges, iters=1)
        df.agg(F.sum("rank")).collect()  # the consumer finishes
        peak = max(peak, _n_cached(spark))
        M.release_materialized()
        assert _n_cached(spark) == 0, f"cache leaked at invocation {i}"
    # one invocation registers exactly its own bounded set (the edge
    # persist), never an accumulating backlog
    assert 1 <= peak <= 4


class _FakePersisted:
    """Stands in for a persisted DataFrame: counts its unpersists."""

    def __init__(self):
        self.unpersists = 0

    def unpersist(self):
        self.unpersists += 1


def test_track_and_release_from_many_threads_release_each_entry_once():
    import sys

    M.release_materialized()
    n_threads, per_thread = 8, 500
    tracked: list[_FakePersisted] = []
    released = []
    done = threading.Event()

    def tracker():
        mine = [_FakePersisted() for _ in range(per_thread)]
        for df in mine:
            M.track(df)
        tracked.extend(mine)

    def releaser():
        while not done.is_set():
            released.append(M.release_materialized())

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        rel = threading.Thread(target=releaser)
        rel.start()
        workers = [threading.Thread(target=tracker) for _ in range(n_threads)]
        for t in workers:
            t.start()
        for t in workers:
            t.join(timeout=60)
        done.set()
        rel.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not rel.is_alive() and not any(t.is_alive() for t in workers)
    released.append(M.release_materialized())
    assert len(tracked) == n_threads * per_thread
    assert all(df.unpersists == 1 for df in tracked)
    assert sum(released) == len(tracked)
    assert M.n_tracked() == 0


def test_table_bytes_counts_nested_parquet_dirs(tmp_path):
    # a partitioned table: <name>.parquet/<key=value>/part-*.parquet
    from database_per_keyword_analysis_spark import catalog

    sizes = {"a=1/part-0.parquet": 100, "a=1/part-1.parquet": 20,
             "a=2/b=x/part-0.parquet": 7, "_SUCCESS": 0}
    for rel, n in sizes.items():
        p = tmp_path / "events.parquet" / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(b"x" * n)
    assert catalog._table_bytes(str(tmp_path), "events") == 127
    assert catalog._table_bytes(str(tmp_path), "missing") == 0


def test_cache_dir_key_follows_content_root_and_params(tmp_path, monkeypatch):
    (tmp_path / "t.parquet").write_bytes(b"abc")
    key = M.cache_dir("fam", str(tmp_path), ["t"], n=1)
    assert key == M.cache_dir("fam", str(tmp_path), ["t"], n=1)
    assert os.path.dirname(key) == os.path.join(M.CACHE_ROOT, "fam")
    assert key != M.cache_dir("fam", str(tmp_path), ["t"], n=2)
    # same path, rewritten content: a new key, never the stale entry
    (tmp_path / "t.parquet").write_bytes(b"abcd")
    rewritten = M.cache_dir("fam", str(tmp_path), ["t"], n=1)
    assert rewritten != key
    # same inputs under another cache root: a new key too
    monkeypatch.setattr(M, "CACHE_ROOT", str(tmp_path / "other"))
    moved = M.cache_dir("fam", str(tmp_path), ["t"], n=1)
    assert moved.startswith(str(tmp_path / "other"))
    assert os.path.basename(moved) != os.path.basename(rewritten)


def test_build_once_commits_atomically_and_rebuilds_after_a_failed_build(
    tmp_path,
):
    path = str(tmp_path / "idx")
    calls = []

    def failing(tmp):
        calls.append(tmp)
        with open(os.path.join(tmp, "part-0"), "w") as fh:
            fh.write("half")
        raise RuntimeError("crash mid-build")

    with pytest.raises(RuntimeError):
        M.build_once(path, failing)
    # nothing committed, nothing staged left behind
    assert os.listdir(tmp_path) == []

    def good(tmp):
        calls.append(tmp)
        with open(os.path.join(tmp, "part-0"), "w") as fh:
            fh.write("whole")

    assert M.build_once(path, good) == path
    assert os.path.isfile(os.path.join(path, M.COMMIT_MARKER))
    assert open(os.path.join(path, "part-0")).read() == "whole"
    # committed: later calls never build again
    assert M.build_once(path, failing) == path
    assert len(calls) == 2
    assert os.listdir(tmp_path) == ["idx"]


def test_build_once_replaces_an_uncommitted_leftover(tmp_path):
    path = tmp_path / "idx"
    path.mkdir()
    (path / "part-0").write_text("stale")

    def build(tmp):
        with open(os.path.join(tmp, "part-0"), "w") as fh:
            fh.write("fresh")

    M.build_once(str(path), build)
    assert (path / "part-0").read_text() == "fresh"
    assert (path / M.COMMIT_MARKER).is_file()


def _append_and_stage(log: str, pause_s: float):
    """A build body that records each run in `log`, then takes long
    enough that an unguarded second builder would overlap it."""

    def build(tmp):
        with open(log, "a") as fh:
            fh.write("x")
        time.sleep(pause_s)
        with open(os.path.join(tmp, "part-0"), "w") as fh:
            fh.write("built")

    return build


def _build_once_after_barrier(path: str, log: str, barrier) -> None:
    barrier.wait(timeout=60)
    M.build_once(path, _append_and_stage(log, 0.5))


def _build_once_until_killed(path: str, started) -> None:
    def build(tmp):
        with open(os.path.join(tmp, "part-0"), "w") as fh:
            fh.write("dead")
        started.set()
        time.sleep(600)

    M.build_once(path, build)


def test_build_once_runs_one_build_across_processes(tmp_path):
    ctx = multiprocessing.get_context("spawn")
    barrier = ctx.Barrier(2)
    path, log = str(tmp_path / "fam" / "idx"), str(tmp_path / "builds.log")
    procs = [
        ctx.Process(target=_build_once_after_barrier, args=(path, log, barrier))
        for _ in range(2)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=120)
    assert [p.exitcode for p in procs] == [0, 0]
    assert open(log).read() == "x"
    assert os.listdir(tmp_path / "fam") == ["idx"]
    assert open(os.path.join(path, "part-0")).read() == "built"


def test_build_once_runs_one_build_across_threads(tmp_path):
    import sys

    n_threads = 8  # more than the cores, so lock waits interleave
    barrier = threading.Barrier(n_threads)
    path, log = str(tmp_path / "fam" / "idx"), str(tmp_path / "builds.log")
    errors = []

    def run():
        try:
            barrier.wait(timeout=60)
            M.build_once(path, _append_and_stage(log, 0.2))
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=run) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not errors and not any(t.is_alive() for t in threads)
    assert open(log).read() == "x"
    assert os.listdir(tmp_path / "fam") == ["idx"]


def test_build_once_after_a_killed_builder_clears_its_staging(tmp_path):
    ctx = multiprocessing.get_context("spawn")
    started = ctx.Event()
    path = str(tmp_path / "fam" / "idx")
    proc = ctx.Process(target=_build_once_until_killed, args=(path, started))
    proc.start()
    try:
        assert started.wait(timeout=120)
        assert os.path.isdir(path + ".building")
    finally:
        os.kill(proc.pid, signal.SIGKILL)
        proc.join(timeout=60)
    # the kernel dropped the dead holder's lock: this call takes it,
    # clears the leftover staging dir and commits a whole build
    M.build_once(path, _append_and_stage(str(tmp_path / "builds.log"), 0))
    assert os.listdir(tmp_path / "fam") == ["idx"]
    assert sorted(os.listdir(path)) == [M.COMMIT_MARKER, "part-0"]
    assert open(os.path.join(path, "part-0")).read() == "built"


def _copy_fixture(src: str, dst) -> str:
    """Writable copy of a read-only fixture directory."""
    dst.mkdir()
    for name in os.listdir(src):
        shutil.copyfile(os.path.join(src, name), dst / name)
    return str(dst)


def _oracle_rows(sf_dir: str, name: str):
    from database_per_keyword_analysis_spark import catalog
    from tools.check_oracle import duck_connect

    cur = duck_connect(sf_dir).execute(catalog.oracle_sql()[name])
    return [d[0] for d in cur.description], cur.fetchall()


def _assert_rows_equal(df, want) -> None:
    from tools.check_oracle import canon_rows

    dcols, drows = want
    got = [tuple(r) for r in df.collect()]
    assert sorted(df.columns) == sorted(dcols)
    assert canon_rows(df.columns, got) == canon_rows(dcols, drows)


def _new_cache_entries(before: set[str]) -> set[str]:
    """`.cache` entries two levels deep, minus `before`; the root comes
    from the package path so the listing does not rely on the seam
    under test."""
    root = os.path.join(os.path.dirname(os.path.dirname(M.__file__)), ".cache")
    now = set()
    if os.path.isdir(root):
        for top in os.listdir(root):
            now.add(os.path.join(root, top))
            if os.path.isdir(os.path.join(root, top)):
                now.update(
                    os.path.join(root, top, k)
                    for k in os.listdir(os.path.join(root, top))
                )
    return now - before


def test_regenerated_input_at_same_path_is_not_served_stale(
    spark, sf_dir, tmp_path
):
    import pyarrow.parquet as pq

    from database_per_keyword_analysis_spark import catalog

    sf = _copy_fixture(sf_dir, tmp_path / "sf")
    q = catalog.queries()["documents_jsonl_scan"]
    before = _new_cache_entries(set())
    try:
        _assert_rows_equal(q(spark, sf), _oracle_rows(sf, "documents_jsonl_scan"))
        docs = os.path.join(sf, "documents.parquet")
        table = pq.read_table(docs)
        pq.write_table(table.slice(0, table.num_rows // 2), docs)
        want = _oracle_rows(sf, "documents_jsonl_scan")
        assert len(want[1]) == table.num_rows // 2
        _assert_rows_equal(q(spark, sf), want)
    finally:
        for p in sorted(_new_cache_entries(before), key=len, reverse=True):
            shutil.rmtree(p, ignore_errors=True)


def test_relocated_cache_root_never_reuses_foreign_checkpoints(
    spark, sf_dir, tmp_path, monkeypatch
):
    # a copied checkout: the committed upsert entry (source split,
    # MERGE target and a streaming checkpoint that records absolute
    # paths) now sits under another cache root
    from database_per_keyword_analysis_spark import catalog

    sf = sf_dir
    q = catalog.queries()["stream_user_latest_upsert"]
    q(spark, sf).collect()
    base = catalog._upsert_cache_base(sf)
    moved_root = tmp_path / ".cache"
    shutil.copytree(base, moved_root / os.path.relpath(base, M.CACHE_ROOT))
    monkeypatch.setattr(M, "CACHE_ROOT", str(moved_root))
    _assert_rows_equal(
        q(spark, sf), _oracle_rows(sf, "stream_user_latest_upsert")
    )
    assert catalog._upsert_cache_base(sf).startswith(str(moved_root))
