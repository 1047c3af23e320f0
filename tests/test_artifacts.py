"""Artifact store behavior (cdc_makanmana_spark/artifacts.py, served
through plans/queries._artifact):

- build-once within a process (dict hit),
- cross-process reuse via the on-disk _COMMITTED marker,
- invalidation when a source table is regenerated (stat_token change),
- an unmarked (crashed mid-build) directory is rebuilt, not served,
- a committed artifact is never rewritten.
"""

import pytest

from cdc_makanmana_spark import artifacts as A
from cdc_makanmana_spark.plans import queries as Q


def _build_counter(spark, calls):
    def build():
        calls.append(1)
        return spark.range(3).toDF("id")

    return build


@pytest.fixture(autouse=True)
def _cleanup_unit_artifacts(spark):
    """Each test's tmp_path gives a fresh fingerprint, so without
    cleanup every pytest run would leave new unit_t* dirs in /tmp.
    Sweep by name prefix on disk (the in-memory dict loses paths when
    tests .clear() it to simulate a new process)."""
    yield
    from cdc_makanmana_spark import fs

    root = A._artifact_root()
    for child in fs.list_names(spark, root):
        if child.startswith("unit_t"):
            fs.delete(spark, f"{root}/{child}")
    for key in [k for k in A._MEMO if k[1].startswith("unit_t")]:
        del A._MEMO[key]


def test_artifact_builds_once_and_reuses_committed(spark, tmp_path):
    sf = str(tmp_path)
    (tmp_path / "documents.parquet").write_bytes(b"generation-1")
    calls = []
    build = _build_counter(spark, calls)

    assert Q._artifact(spark, sf, "unit_t", ("documents",), build).count() == 3
    assert len(calls) == 1

    # same process: dict hit, no rebuild
    Q._artifact(spark, sf, "unit_t", ("documents",), build)
    assert len(calls) == 1

    # "new process" (cleared in-memory cache): the committed on-disk
    # artifact is reused, not rebuilt
    A._MEMO.clear()
    assert Q._artifact(spark, sf, "unit_t", ("documents",), build).count() == 3
    assert len(calls) == 1


def test_artifact_invalidated_when_source_regenerated(spark, tmp_path):
    sf = str(tmp_path)
    src = tmp_path / "documents.parquet"
    src.write_bytes(b"generation-1")
    calls = []
    build = _build_counter(spark, calls)

    Q._artifact(spark, sf, "unit_t2", ("documents",), build)
    assert len(calls) == 1

    # regenerate the source (different size => different stat token):
    # the stale artifact must NOT be served, in-process or across
    # processes
    src.write_bytes(b"generation-2!")
    Q._artifact(spark, sf, "unit_t2", ("documents",), build)
    assert len(calls) == 2
    A._MEMO.clear()
    Q._artifact(spark, sf, "unit_t2", ("documents",), build)
    assert len(calls) == 2


def test_artifact_invalidated_on_param_change_and_old_gen_evicted(spark, tmp_path):
    """A build-parameter bump must invalidate a committed artifact
    (source fingerprints alone can't see code/constant changes), and
    the superseded generation must be evicted from disk — growth is
    bounded at one artifact per (name, sf_dir)."""
    import os

    from cdc_makanmana_spark import fs

    sf = str(tmp_path)
    (tmp_path / "documents.parquet").write_bytes(b"generation-1")
    calls = []
    build = _build_counter(spark, calls)

    Q._artifact(spark, sf, "unit_t4", ("documents",), build, params="m=10")
    assert len(calls) == 1
    old_path = next(p for (_, n, _), p in A._MEMO.items() if n == "unit_t4")

    Q._artifact(spark, sf, "unit_t4", ("documents",), build, params="m=12")
    assert len(calls) == 2
    new_path = next(p for (_, n, _), p in A._MEMO.items() if n == "unit_t4")
    assert new_path != old_path
    assert not fs.exists(spark, old_path), "superseded generation not evicted"

    # a different sf_dir's artifact must NOT be evicted by this one
    other = tmp_path / "other_sf"
    os.makedirs(other)
    (other / "documents.parquet").write_bytes(b"generation-1")
    Q._artifact(spark, str(other), "unit_t4", ("documents",), build, params="m=12")
    assert len(calls) == 3
    assert fs.exists(spark, new_path), "sibling sf_dir artifact wrongly evicted"


def test_stat_token_directory_stable_and_change_sensitive(spark, tmp_path):
    """Directory tokens must be deterministic across calls (listStatus
    order is not guaranteed — the token sorts) and change when a child
    file is replaced (the Spark-rewrite signature object stores can
    see, where the dir's own stat is useless)."""
    from cdc_makanmana_spark import fs

    d = tmp_path / "tbl.parquet"
    d.mkdir()
    for i in range(5):
        (d / f"part-{i:05d}.parquet").write_bytes(b"x" * (i + 1))

    t1 = fs.stat_token(spark, str(d))
    t2 = fs.stat_token(spark, str(d))
    assert t1 == t2 and t1.startswith("dir:")

    (d / "part-00002.parquet").write_bytes(b"rewritten-much-longer")
    assert fs.stat_token(spark, str(d)) != t1


def test_concurrent_builders_converge_to_one_committed_generation(spark, tmp_path):
    """Two PROCESSES building the same fingerprint at the same instant:
    write-once + marker-last must converge to one committed, readable
    generation (the first to commit wins; the loser finds the committed
    winner, drops its own build and serves the winner's files). This is
    the documented residual risk of the commit-marker protocol vs a
    real transaction log — prove the convergence claim."""
    import os
    import subprocess
    import sys
    import time

    sf = str(tmp_path)
    (tmp_path / "documents.parquet").write_bytes(b"generation-1")

    sentinel = str(tmp_path / "in_build")
    main_done = str(tmp_path / "main_committed")
    script = tmp_path / "builder.py"
    script.write_text(
        "import os, pathlib, sys, time\n"
        f"sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})\n"
        "from cdc_makanmana_spark.session import get_spark\n"
        "from cdc_makanmana_spark.plans import queries as Q\n"
        "spark = get_spark('unit-concurrent-builder')\n"
        "def build():\n"
        f"    pathlib.Path({sentinel!r}).touch()  # signal: race window open\n"
        "    # hold the window open until the MAIN process has committed\n"
        "    # (sentinel handshake, not a timed sleep — a loaded box must\n"
        "    # not let the two writes overlap nondeterministically)\n"
        "    deadline = time.time() + 120\n"
        f"    while not os.path.exists({main_done!r}):\n"
        "        if time.time() > deadline:\n"
        "            raise RuntimeError('main process never committed')\n"
        "        time.sleep(0.2)\n"
        "    return spark.range(3).toDF('id')\n"
        f"df = Q._artifact(spark, {sf!r}, 'unit_trace', ('documents',), build)\n"
        "print('ROWS', df.count(), flush=True)\n"
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    proc = subprocess.Popen(
        [sys.executable, str(script)],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        env=env,
    )
    try:
        # overlap deterministically: wait until the subprocess is INSIDE
        # its build of the same fingerprint, then build here (fast) —
        # this process commits first, the subprocess then serves it
        deadline = time.time() + 120
        while not os.path.exists(sentinel):
            assert proc.poll() is None, "builder subprocess died early"
            assert time.time() < deadline, "subprocess never entered build"
            time.sleep(0.5)
        calls = []
        df = Q._artifact(spark, sf, "unit_trace", ("documents",), _build_counter(spark, calls))
        assert df.count() == 3 and len(calls) == 1
        open(main_done, "w").close()  # release the subprocess's build
        out, _ = proc.communicate(timeout=180)
        assert proc.returncode == 0 and "ROWS 3" in out  # loser also served
    finally:
        if proc.poll() is None:
            proc.kill()

    from cdc_makanmana_spark import fs

    root = A._artifact_root()
    gens = [n for n in fs.list_names(spark, root) if n.startswith("unit_trace_")]
    assert len(gens) == 1  # one generation, not one per builder
    path = f"{root}/{gens[0]}"
    assert fs.is_committed(spark, path)
    # the surviving generation is complete and readable from a cold cache
    A._MEMO.clear()
    assert Q._artifact(
        spark, sf, "unit_trace", ("documents",), _build_counter(spark, [])
    ).count() == 3


def test_artifact_unmarked_dir_is_rebuilt(spark, tmp_path):
    """A crash between the parquet write and mark_committed leaves an
    unmarked directory — the next request rebuilds instead of serving
    the torn output."""
    from cdc_makanmana_spark import fs

    sf = str(tmp_path)
    (tmp_path / "documents.parquet").write_bytes(b"generation-1")
    calls = []
    build = _build_counter(spark, calls)

    Q._artifact(spark, sf, "unit_t3", ("documents",), build)
    path = next(p for (_, n, _), p in A._MEMO.items() if n == "unit_t3")
    assert len(calls) == 1

    # simulate the crash window: drop the marker, clear the dict
    fs.delete(spark, f"{path}/{fs.COMMIT_MARKER}")
    A._MEMO.clear()
    Q._artifact(spark, sf, "unit_t3", ("documents",), build)
    assert len(calls) == 2
    assert fs.is_committed(spark, path)


def test_artifact_never_rewrites_a_committed_winner(spark, tmp_path):
    """A build that re-enters ``_artifact`` for its own key commits the
    artifact from the inner call; the outer call must then serve that
    winner and leave its files untouched, not overwrite it in place."""
    import os

    sf = str(tmp_path)
    (tmp_path / "documents.parquet").write_bytes(b"generation-1")
    parts = []

    def inner_build():
        return spark.range(3).toDF("id")

    def outer_build():
        df = Q._artifact(spark, sf, "unit_t5", ("documents",), inner_build)
        path = next(p for (_, n, _), p in A._MEMO.items() if n == "unit_t5")
        parts.append((path, sorted(os.listdir(path))))
        return spark.range(5).toDF("id")

    out = Q._artifact(spark, sf, "unit_t5", ("documents",), outer_build)
    path, inner_parts = parts[0]
    assert any(n.startswith("part-") for n in inner_parts)
    assert sorted(os.listdir(path)) == inner_parts
    assert out.count() == 3  # the committed winner is what is served
    root = A._artifact_root()
    assert [n for n in os.listdir(root) if n.startswith("unit_t5_")] == [
        os.path.basename(path)
    ]  # no scratch dir left behind


def test_memo_computes_once_and_keeps_one_entry_per_name(spark, tmp_path):
    """The in-process tier: a second call returns the stored value
    without recomputing; regenerating a source table recomputes and
    leaves exactly one entry for (sf_dir, name); nothing goes to disk."""
    import os

    sf = str(tmp_path)
    src = tmp_path / "documents.parquet"
    src.write_bytes(b"generation-1")
    calls = []

    def compute():
        calls.append(1)
        return [len(calls)]

    assert A.memo(spark, sf, "unit_tm", ("documents",), compute) == [1]
    assert A.memo(spark, sf, "unit_tm", ("documents",), compute) == [1]
    assert len(calls) == 1

    src.write_bytes(b"generation-2!")
    assert A.memo(spark, sf, "unit_tm", ("documents",), compute) == [2]
    assert len([k for k in A._MEMO if k[:2] == (sf, "unit_tm")]) == 1
    root = A._artifact_root()
    assert not any(
        n.startswith("unit_tm") for n in (os.listdir(root) if os.path.isdir(root) else [])
    )


def test_q101_new_session_and_process_serve_committed_buckets(spark):
    """q101's co-bucketed tables are one committed artifact. A new
    session (catalog tables gone, memo kept) and a new process (both
    gone) register the committed dirs again and serve them: their part
    files are never rewritten."""
    import os

    sf = "/root/testdata/sf0.001"

    def run():
        return sorted(Q.QUERIES["q101_cobucketed_revenue"](spark, sf).collect())

    def parts(path):
        return {t: sorted(os.listdir(f"{path}/{t}")) for t in ("orders", "lineitem")}

    def drop_tables():
        for t in ("orders", "lineitem"):
            spark.sql(f"DROP TABLE {key[2]}_{t}")  # external: the files stay

    first = run()
    (key, path), = [(k, v) for k, v in A._MEMO.items() if k[:2] == (sf, "q101")]
    assert path == os.path.join(A._artifact_root(), key[2])
    before = parts(path)
    assert all(any(n.startswith("part-") for n in v) for v in before.values())

    drop_tables()  # a new session
    assert run() == first
    drop_tables()  # a new process
    del A._MEMO[key]
    assert run() == first
    assert parts(path) == before
