"""The control-plane storage seam: index/table sidecars, atomic
installs, and prefix deletes must ALL route through the injected
``StorageBackend`` — an object-store deployment swaps one class, not
every module. Verified by injecting a fake backend that keeps
sidecars in memory (never on disk) and recording every call."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mpg_data_warehouse_spark.sources.storage import (
    LocalFSStorageBackend,
    get_storage_backend,
    set_storage_backend,
)
from mpg_data_warehouse_spark.sources.txlog import LocalFSCommitBackend


class RecordingBackend(LocalFSStorageBackend):
    """Sidecar text lives ONLY in this dict (a read/write of a text
    object that bypassed the backend shows up as a hard failure);
    directory-level ops delegate to the local implementation (the
    parquet data plane is Spark's own filesystem) but are logged."""

    def __init__(self, fail_first_install: bool = False):
        self.texts: dict[str, str] = {}
        self.calls: list[tuple[str, str]] = []
        self._fail_install = fail_first_install

    def read_text(self, path: str) -> str:
        self.calls.append(("read_text", path))
        return self.texts[path]

    def write_text_atomic(self, path: str, payload: str) -> None:
        self.calls.append(("write_text", path))
        self.texts[path] = payload

    def exists(self, path: str) -> bool:
        self.calls.append(("exists", path))
        return path in self.texts or os.path.exists(path)

    def delete_prefix(self, prefix: str) -> None:
        self.calls.append(("delete_prefix", prefix))
        for k in [t for t in self.texts if t.startswith(prefix)]:
            del self.texts[k]
        super().delete_prefix(prefix)

    def install_dir(
        self, staging: str, live: str, if_absent: bool = False
    ) -> None:
        self.calls.append(("install_dir", live))
        if self._fail_install:
            # simulate a contended install: first attempt loses the
            # race; the caller must surface the failure, leave the
            # live path intact, and a retry must succeed
            self._fail_install = False
            raise OSError("simulated install contention")
        super().install_dir(staging, live, if_absent=if_absent)


class RecordingCommits(LocalFSCommitBackend):
    """The default commit store, recording every install."""

    def __init__(self):
        self.installed: list[str] = []

    def put_if_absent(self, path: str, payload: str) -> bool:
        self.installed.append(path)
        return super().put_if_absent(path, payload)


def _json_outside_log(path: str) -> set[str]:
    from mpg_data_warehouse_spark.sources.txlog import LOG_DIR

    return {
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".json")
        and LOG_DIR not in os.path.relpath(d, path).split(os.sep)
    }


@pytest.fixture()
def fake_backend():
    fake = RecordingBackend()
    prev = set_storage_backend(fake)
    try:
        yield fake
    finally:
        set_storage_backend(prev)


def test_default_backend_is_local(spark):
    assert isinstance(get_storage_backend(), LocalFSStorageBackend)


def test_bm25_lifecycle_routes_all_sidecars_through_backend(
    spark, tmp_path, fake_backend
):
    """build → append → delete installs every index change as one
    commit through the injected ``CommitBackend``, and writes no JSON
    sidecar anywhere under the index path: the stats ride the commits,
    so there is no control object outside the log to route."""
    from mpg_data_warehouse_spark.operators.search import (
        bm25_append_index,
        bm25_delete_index,
        bm25_search,
        build_ranked_index,
    )
    from mpg_data_warehouse_spark.sources import txlog

    commits = RecordingCommits()
    prev = txlog.set_commit_backend(commits)
    try:
        idx = str(tmp_path / "idx")
        build_ranked_index(
            spark.createDataFrame(
                [Row(doc_id=1, text="alpha bravo"), Row(doc_id=2, text="alpha c")]
            ),
            idx,
        )
        assert bm25_search(spark, idx, "alpha").count() == 2
        assert bm25_append_index(
            spark.createDataFrame([Row(doc_id=3, text="alpha delta")]), idx
        ) == 1
        assert bm25_delete_index(
            spark.createDataFrame([Row(doc_id=1)]), idx
        ) == 1
    finally:
        txlog.set_commit_backend(prev)
    got = {r.doc_id for r in bm25_search(spark, idx, "alpha").collect()}
    assert got == {2, 3}
    log = os.path.join(idx, txlog.LOG_DIR)
    assert commits.installed == [
        os.path.join(log, f"{v:08d}.json") for v in range(3)
    ]
    assert txlog.snapshot_state(idx)["meta"]["n_docs"] == 2
    on_disk = {
        os.path.join(d, f)
        for d, _, files in os.walk(idx)
        for f in files
        if f.endswith(".json")
    }
    assert on_disk == set(commits.installed)
    assert not fake_backend.texts  # no sidecar went around the log either


def test_bloom_sidecars_route_through_backend(spark, tmp_path, fake_backend):
    from mpg_data_warehouse_spark.operators.bloom import (
        META_FILE,
        bloom_build,
        bloom_maybe_seen,
        bloom_read,
    )

    path = str(tmp_path / "bloom")
    df = spark.createDataFrame([Row(h=i) for i in range(50)])
    bloom_build(df, "h", path=path, n_bits=1 << 12, k=3)
    assert os.path.join(path, META_FILE) in fake_backend.texts
    assert not os.path.exists(os.path.join(path, META_FILE))
    flt, meta = bloom_read(spark, path)
    out = bloom_maybe_seen(
        df, "h", flt, n_bits=meta["n_bits"], k=meta["k"]
    )
    assert all(r.maybe_seen for r in out.collect())


def test_contended_install_fails_loudly_then_retries(spark, tmp_path):
    """A raced directory install surfaces the error, the live table
    stays fully readable, and a retry succeeds."""
    from mpg_data_warehouse_spark.sources.writers import swap_into_place

    fake = RecordingBackend(fail_first_install=True)
    prev = set_storage_backend(fake)
    try:
        live = tmp_path / "live"
        live.mkdir()
        (live / "data.txt").write_text("old")
        stage = tmp_path / "stage"
        stage.mkdir()
        (stage / "data.txt").write_text("new")
        with pytest.raises(OSError, match="contention"):
            swap_into_place(str(stage), str(live))
        assert (live / "data.txt").read_text() == "old"  # intact
        swap_into_place(str(stage), str(live))  # retry wins
        assert (live / "data.txt").read_text() == "new"
        assert [c for c, _ in fake.calls].count("install_dir") == 2
    finally:
        set_storage_backend(prev)


def test_retrieval_keybucket_versioned_route_through_backend(
    spark, tmp_path, fake_backend
):
    """Round-7 seam completion: the retrieval index's build commit
    goes through the injected ``CommitBackend`` (no JSON sits under the
    index outside its log), and the keybucket manifest and the
    versioned snapshot manifest/deletes go through the injected
    storage backend (sidecar text lives ONLY in the fake's dict — a
    bypassing open() hard-fails)."""
    from mpg_data_warehouse_spark.operators.append import (
        merge_upsert_bucketed,
        write_keybucket_table,
    )
    from mpg_data_warehouse_spark.operators.versioned import (
        rollback_partitions,
        snapshot_partitions,
    )
    from mpg_data_warehouse_spark.plans.retrieval import (
        _check_encoder,
        build_retrieval_index,
    )
    from mpg_data_warehouse_spark.sources import txlog

    # --- retrieval: the IVF build, encoder included, is one commit
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha beta gamma delta doc {i}") for i in range(6)]
    )
    idx = str(tmp_path / "ridx")
    commits = RecordingCommits()
    prev = txlog.set_commit_backend(commits)
    try:
        build_retrieval_index(
            docs, idx, str(tmp_path / "chunks"), dim=8, n_centroids=2
        )
    finally:
        txlog.set_commit_backend(prev)
    assert os.path.join(idx, txlog.LOG_DIR, "00000000.json") in commits.installed
    assert not _json_outside_log(idx)
    assert not any(k.startswith(idx) for k in fake_backend.texts)
    state = txlog.snapshot_state(idx)
    assert state["meta"]["hash_fn"] == "xxhash64"
    _check_encoder(state, idx, 8, "xxhash64")
    with pytest.raises(ValueError, match="different feature space"):
        _check_encoder(state, idx, 16, "xxhash64")

    # --- keybucket: manifest written + validated via the backend
    base = spark.createDataFrame([Row(k=i, v=i * 10) for i in range(20)])
    tbl = str(tmp_path / "kb")
    write_keybucket_table(base, tbl, ["k"], n_buckets=4)
    assert any(k.startswith(tbl) for k in fake_backend.texts)
    upd = spark.createDataFrame([Row(k=1, v=999)])
    merge_upsert_bucketed(spark, upd, tbl)
    got = {r.k: r.v for r in spark.read.parquet(tbl).collect()}
    assert got[1] == 999 and got[5] == 50

    # --- versioned: partition snapshot manifest + created-partition
    # delete on rollback, all through the backend
    t = str(tmp_path / "ptab")
    spark.createDataFrame(
        [Row(p="a", v=1), Row(p="a", v=2)]
    ).write.partitionBy("p").parquet(t)
    vdir = str(tmp_path / "vers")
    vid = snapshot_partitions(
        spark, t, vdir, ("p",), [{"p": "a"}, {"p": "b"}]
    )
    assert any(k.endswith("_manifest.json") for k in fake_backend.texts)
    # failed mutation CREATES partition b, then rollback must delete it
    spark.createDataFrame([Row(p="b", v=9)]).write.mode("append").partitionBy(
        "p"
    ).parquet(t)
    rollback_partitions(spark, t, vdir, vid)
    assert not os.path.isdir(os.path.join(t, "p=b"))
    deletes = [p for c, p in fake_backend.calls if c == "delete_prefix"]
    assert any(p.endswith("p=b") for p in deletes)
    vals = sorted(r.v for r in spark.read.parquet(t).collect())
    assert vals == [1, 2]


def test_exclusive_install_refuses_occupied_target(tmp_path):
    """if_absent=True: the install is ONE rename the kernel refuses if
    the target is occupied — data that appeared between a caller's
    pre-check and the install can never be renamed away (the
    write_avro mode='error' TOCTOU contract)."""
    from mpg_data_warehouse_spark.sources.storage import (
        LocalFSStorageBackend,
    )

    b = LocalFSStorageBackend()
    live = tmp_path / "live"
    live.mkdir()
    (live / "theirs.txt").write_text("concurrent")
    stage = tmp_path / "stage"
    stage.mkdir()
    (stage / "mine.txt").write_text("new")
    with pytest.raises(FileExistsError, match="occupied"):
        b.install_dir(str(stage), str(live), if_absent=True)
    # the concurrent data survives untouched, staging is intact
    assert (live / "theirs.txt").read_text() == "concurrent"
    assert (stage / "mine.txt").read_text() == "new"
    # an EMPTY pre-existing dir counts as absent: install succeeds
    empty = tmp_path / "empty"
    empty.mkdir()
    b.install_dir(str(stage), str(empty), if_absent=True)
    assert (empty / "mine.txt").read_text() == "new"
    assert not stage.exists()


def test_write_avro_error_mode_exclusive_install(spark, tmp_path):
    """End-to-end: mode='error' against a target that fills up during
    the job raises and never disturbs the concurrent data."""
    from mpg_data_warehouse_spark.sources.avro_ocf import (
        read_avro,
        write_avro,
    )

    df = spark.range(5).select(F.col("id").cast("long").alias("v"))
    out = tmp_path / "tbl"
    write_avro(df, str(out))  # plain error-mode install works
    assert read_avro(spark, str(out)).count() == 5
    with pytest.raises(FileExistsError):
        write_avro(df, str(out))  # now occupied
    assert read_avro(spark, str(out)).count() == 5


def test_no_direct_filesystem_io_in_index_modules():
    """The seam contract: control-plane modules never open()/shutil
    their paths directly (the data plane goes through Spark, the
    control plane through the backend) — BOTH patterns asserted
    uniformly across EVERY module behind the seam, so a regression in
    any one of them fails here instead of surviving to deployment."""
    import inspect

    from mpg_data_warehouse_spark.operators import (
        append,
        bloom,
        search,
        similarity,
        versioned,
    )
    from mpg_data_warehouse_spark.plans import retrieval
    from mpg_data_warehouse_spark.sources import bloom_skip, writers

    seam_modules = (
        search,
        bloom,
        similarity,
        append,
        versioned,
        retrieval,
        writers,
        bloom_skip,
    )
    for mod in seam_modules:
        src = inspect.getsource(mod)
        assert "shutil" not in src, f"{mod.__name__}: direct shutil"
        assert "open(" not in src, f"{mod.__name__}: direct open()"
