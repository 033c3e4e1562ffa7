"""MERGE + selective compaction on the snapshot commit log
(sources/snapshots.merge_into / compact_snapshot) and the streaming
merge sink (streaming/snapshot_sink.snapshot_merge_sink).

Load-bearing physics pinned here:

- merge is ONE atomic commit: matched rows tombstoned via positional
  vectors + the batch appended — ZERO pre-existing files rewritten;
- the source-batch uniqueness gate (duplicate/null keys raise); an
  empty batch commits nothing;
- exactly-once under batch re-delivery (txn token), and loud
  ConcurrentCommit on a real race, with staged files cleaned up;
- read_changes renders a merge as deletes-then-inserts and skips
  compaction commits entirely (no logical change);
- compaction rewrites ONLY the small files, applies existing delete
  vectors while doing so (new positions ≠ old positions), and leaves
  time travel intact;
- compaction racing MERGE or keyed erasure in another JVM loses no
  update and never makes an erased key readable again.
"""

import os
import subprocess
import sys
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from geocore_spark.operators import ivm
from geocore_spark.sources import snapshots as snap
from geocore_spark.streaming.snapshot_sink import snapshot_merge_sink


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "t")


def _mk(spark, root, n=100, parts=2):
    df = spark.range(0, n).withColumn("v", F.col("id") * 3)
    snap.create_table(spark, root, df.repartition(parts))
    return df


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _batch(spark, lo, hi, mult):
    return spark.range(lo, hi).withColumn("v", F.col("id") * mult)


# ---------------------------------------------------------------------------
# merge_into
# ---------------------------------------------------------------------------


def test_merge_updates_and_inserts_one_commit(spark, root):
    _mk(spark, root)  # ids 0..99, v = id*3
    before = snap.load_manifest(spark, root)
    m, stats = snap.merge_into(spark, root, _batch(spark, 80, 120, 7), ["id"])
    assert (stats["rows_written"], stats["rows_tombstoned"]) == (40, 20)
    assert stats["files_scanned"] == stats["files_total"] == 2  # no stats given
    assert m["version"] == before["version"] + 1
    assert m["operation"] == "merge"
    # zero pre-existing files rewritten: every old data file still listed
    assert set(before["data_files"]) <= set(m["data_files"])
    got = snap.read_snapshot(spark, root)
    assert got.count() == 120
    expect = (
        spark.range(0, 80).withColumn("v", F.col("id") * 3)
        .unionByName(_batch(spark, 80, 120, 7))
    )
    assert _rows(got) == _rows(expect)
    # and time travel to pre-merge still sees the original values
    assert _rows(snap.read_snapshot(spark, root, before["version"])) == _rows(
        spark.range(0, 100).withColumn("v", F.col("id") * 3)
    )


def test_merge_pure_insert_stages_no_vectors(spark, root):
    _mk(spark, root)
    m, stats = snap.merge_into(spark, root, _batch(spark, 500, 520, 1), ["id"])
    assert (stats["rows_written"], stats["rows_tombstoned"]) == (20, 0)
    assert m["delete_files"] == []
    assert snap.read_snapshot(spark, root).count() == 120


def test_merge_tombstones_every_matching_row(spark, root):
    # a target with duplicate keys (built by append): merge replaces ALL
    # copies with the single source row — uniqueness holds going forward
    _mk(spark, root, n=10)
    snap.append(spark, root, _batch(spark, 5, 10, 3))  # ids 5..9 twice
    m, stats = snap.merge_into(spark, root, _batch(spark, 7, 8, 99), ["id"])
    assert (stats["rows_written"], stats["rows_tombstoned"]) == (1, 2)
    got = snap.read_snapshot(spark, root).filter("id = 7")
    assert _rows(got) == [(7, 693)]


def test_merge_source_validation(spark, root):
    _mk(spark, root)
    dup = _batch(spark, 0, 5, 1).unionAll(_batch(spark, 4, 6, 2))
    with pytest.raises(ValueError, match="unique non-null"):
        snap.merge_into(spark, root, dup, ["id"])
    nulled = _batch(spark, 0, 5, 1).withColumn(
        "id", F.when(F.col("id") == 2, None).otherwise(F.col("id"))
    )
    with pytest.raises(ValueError, match="unique non-null"):
        snap.merge_into(spark, root, nulled, ["id"])
    with pytest.raises(ValueError, match="keys not in table schema"):
        snap.merge_into(spark, root, _batch(spark, 0, 5, 1), ["nope"])
    with pytest.raises(ValueError, match="types must match"):
        snap.merge_into(
            spark, root, _batch(spark, 0, 5, 1).withColumn("v", F.lit(1)), ["id"]
        )
    # an empty batch is a no-op: no commit, nothing written
    v0 = snap.latest_version(spark, root)
    m, stats = snap.merge_into(
        spark, root, spark.createDataFrame([], "id bigint, v bigint"), ["id"]
    )
    assert m is None
    assert (stats["rows_written"], stats["rows_tombstoned"]) == (0, 0)
    assert snap.latest_version(spark, root) == v0
    # failed validations and the empty batch left no orphan staged files
    # visible to a rewrite
    m = snap.load_manifest(spark, root)
    on_disk = {p for p, _, _ in snap._list_dir(spark, root + "/data")}
    assert on_disk == set(m["data_files"])


def test_merge_txn_redelivery_is_noop(spark, root):
    _mk(spark, root)
    m1, s1 = snap.merge_into(
        spark, root, _batch(spark, 90, 110, 5), ["id"], txn=("up", 1)
    )
    assert s1["rows_tombstoned"] == 10
    v = snap.latest_version(spark, root)
    m2, s2 = snap.merge_into(
        spark, root, _batch(spark, 90, 110, 5), ["id"], txn=("up", 1)
    )
    assert m2 is None and (s2["rows_written"], s2["rows_tombstoned"]) == (0, 0)
    assert snap.latest_version(spark, root) == v
    assert snap.read_snapshot(spark, root).count() == 110
    # no staged debris from the skipped attempt
    on_disk = {p for p, _, _ in snap._list_dir(spark, root + "/data")}
    assert on_disk == set(snap.load_manifest(spark, root)["data_files"])


def test_merge_loses_race_loudly(spark, root, monkeypatch):
    _mk(spark, root)
    orig = snap._commit
    state = {"raced": False}

    def racing(sp, rt, build, rebase, retries=20):
        if not state["raced"]:
            state["raced"] = True
            snap.append(spark, root, _batch(spark, 200, 210, 1))
        return orig(sp, rt, build, rebase, retries)

    monkeypatch.setattr(snap, "_commit", racing)
    with pytest.raises(snap.ConcurrentCommit, match="advanced past"):
        snap.merge_into(spark, root, _batch(spark, 0, 10, 9), ["id"])
    # the concurrent append survived; the loser's staged files are gone
    m = snap.load_manifest(spark, root)
    assert snap.read_snapshot(spark, root).count() == 110
    on_disk = {p for p, _, _ in snap._list_dir(spark, root + "/data")}
    assert on_disk == set(m["data_files"])


def test_changes_render_merge_as_delete_then_insert(spark, root):
    _mk(spark, root, n=10)
    snap.merge_into(spark, root, _batch(spark, 8, 12, 7), ["id"])
    ch = snap.read_changes(spark, root, since_version=1)
    got = sorted(
        (r["_change_type"], r["id"], r["v"], r["_commit_version"])
        for r in ch.collect()
    )
    assert got == [
        ("delete", 8, 24, 2),
        ("delete", 9, 27, 2),
        ("insert", 8, 56, 2),
        ("insert", 9, 63, 2),
        ("insert", 10, 70, 2),
        ("insert", 11, 77, 2),
    ]


def test_ivm_maintains_through_merge(spark, root, tmp_path):
    _mk(spark, root, n=60)
    roll = str(tmp_path / "roll")
    ivm.refresh_rollup(spark, root, roll, ["v"], view_id="m")
    snap.merge_into(spark, root, _batch(spark, 50, 70, 3), ["id"])  # no-op values
    snap.merge_into(spark, root, _batch(spark, 0, 10, 30), ["id"])
    r = ivm.refresh_rollup(spark, root, roll, ["v"], view_id="m")
    assert r["mode"] == "incremental"
    got = _rows(snap.read_snapshot(spark, roll))
    want = _rows(
        snap.read_snapshot(spark, root)
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )
    assert got == want


def test_merge_stats_pruned_victim_scan(spark, root):
    # key-clustered table: 8 files with disjoint id ranges; a batch
    # touching one range must scan ONE file for victims, not eight
    df = spark.range(0, 8000).withColumn("v", F.col("id") * 3)
    snap.create_table(
        spark, root,
        df.repartitionByRange(8, F.col("id")).sortWithinPartitions("id"),
    )
    stats = snap.snapshot_file_stats(spark, root, ["id"]).persist()
    batch = _batch(spark, 2000, 2050, 9)  # 50 keys, one ~1000-id file range
    m, st = snap.merge_into(spark, root, batch, ["id"], key_stats=stats)
    assert st["files_total"] == 8
    assert st["files_scanned"] <= 2  # range boundary may straddle a file
    assert st["rows_tombstoned"] == 50
    got = snap.read_snapshot(spark, root)
    assert got.count() == 8000
    assert _rows(got.filter("id = 2010").select("v")) == [(18090,)]
    # result identical to the full-scan path on the same starting state
    # (pruned-away files can hold no victims by the range containment)
    stats.unpersist()


def test_merge_stats_validation(spark, root):
    _mk(spark, root)
    # stale stats: profiled BEFORE an append -> live file unprofiled
    stats = snap.snapshot_file_stats(spark, root, ["id"]).persist()
    stats.count()
    snap.append(spark, root, _batch(spark, 100, 120, 3))
    with pytest.raises(ValueError, match="stale"):
        snap.merge_into(spark, root, _batch(spark, 0, 5, 9), ["id"],
                        key_stats=stats)
    stats.unpersist()
    # float prune keys refused (NaN joins as equal, stats exclude NaN)
    froot = root + "_f"
    snap.create_table(
        spark, froot,
        spark.range(10).select(F.col("id").cast("double").alias("k"),
                               F.col("id").alias("v")),
    )
    fstats = snap.snapshot_file_stats(spark, froot, ["k"])
    fbatch = spark.range(3).select(F.col("id").cast("double").alias("k"),
                                   F.col("id").alias("v"))
    with pytest.raises(ValueError, match="floating-point"):
        snap.merge_into(spark, froot, fbatch, ["k"], key_stats=fstats)


# ---------------------------------------------------------------------------
# compact_snapshot
# ---------------------------------------------------------------------------


def test_compact_merges_small_files_only(spark, root):
    _mk(spark, root, n=100, parts=1)
    for lo in range(100, 160, 20):  # three small single-file appends
        snap.append(spark, root, _batch(spark, lo, lo + 20, 3).coalesce(1))
    snap.delete_where(spark, root, "id % 10 = 1")
    before = snap.load_manifest(spark, root)
    content_before = _rows(snap.read_snapshot(spark, root))
    rep = snap.compact_snapshot(spark, root, small_bytes=1 << 30, target_bytes=2 << 30)
    assert rep["files_compacted"] == len(before["data_files"])
    assert rep["files_written"] == 1
    m = snap.load_manifest(spark, root)
    assert m["operation"] == "compact"
    assert len(m["data_files"]) == 1
    # content identical; tombstones were APPLIED during the rewrite and
    # their (now dead-file) vectors are harmless no-ops
    assert _rows(snap.read_snapshot(spark, root)) == content_before
    # time travel to the pre-compact version still works
    assert _rows(snap.read_snapshot(spark, root, before["version"])) == content_before
    # and the change feed skips the compact commit entirely
    ch = snap.read_changes(spark, root, since_version=before["version"])
    assert ch.count() == 0


def test_compact_respects_small_threshold(spark, root):
    # one big file + two tiny ones: only the tiny ones merge
    snap.create_table(
        spark, root, spark.range(0, 50000).withColumn("v", F.col("id")).coalesce(1)
    )
    big = snap.load_manifest(spark, root)["data_files"]
    snap.append(spark, root, _batch(spark, 50000, 50010, 1).coalesce(1))
    snap.append(spark, root, _batch(spark, 50010, 50020, 1).coalesce(1))
    sizes = {p: b for p, b, _ in snap._list_dir(spark, root + "/data")}
    thresh = sizes[big[0]]  # strictly-less-than: the big file never qualifies
    rep = snap.compact_snapshot(spark, root, small_bytes=thresh)
    assert rep["files_compacted"] == 2 and rep["files_written"] == 1
    m = snap.load_manifest(spark, root)
    assert set(big) <= set(m["data_files"]) and len(m["data_files"]) == 2
    assert snap.read_snapshot(spark, root).count() == 50020


def test_compact_noop_below_two_files(spark, root):
    _mk(spark, root, parts=1)
    v = snap.latest_version(spark, root)
    rep = snap.compact_snapshot(spark, root)
    assert rep == {"files_compacted": 0, "files_written": 0, "version": v}
    assert snap.latest_version(spark, root) == v  # no commit
    with pytest.raises(ValueError, match="target_bytes"):
        snap.compact_snapshot(spark, root, small_bytes=10, target_bytes=5)


# ---------------------------------------------------------------------------
# streaming merge sink
# ---------------------------------------------------------------------------


def test_merge_sink_cdc_apply_exactly_once(spark, root):
    sink = snapshot_merge_sink(root, ["id"], app_id="cdc", order_col="seq")
    b0 = _batch(spark, 0, 50, 3).withColumn("seq", F.lit(1))
    sink(b0, 0)
    # batch 1 carries TWO versions of id 10 — highest seq wins — plus news
    b1 = (
        _batch(spark, 10, 11, 100).withColumn("seq", F.lit(2))
        .unionByName(_batch(spark, 10, 11, 200).withColumn("seq", F.lit(3)))
        .unionByName(_batch(spark, 50, 60, 3).withColumn("seq", F.lit(2)))
    )
    sink(b1, 1)
    got = snap.read_snapshot(spark, root)
    assert got.count() == 60
    assert _rows(got.filter("id = 10").select("v", "seq")) == [(2000, 3)]
    # re-delivered batch: no change, no new version
    v = snap.latest_version(spark, root)
    sink(b1, 1)
    assert snap.latest_version(spark, root) == v
    assert snap.read_snapshot(spark, root).count() == 60


def test_merge_sink_validation():
    with pytest.raises(ValueError, match="app_id"):
        snapshot_merge_sink("/x", ["id"], app_id="")
    with pytest.raises(ValueError, match="keys"):
        snapshot_merge_sink("/x", [], app_id="a")


def test_compact_order_col_keeps_per_file_sortedness(spark, root):
    import pyarrow.parquet as pq

    snap.create_table(
        spark, root,
        spark.range(0, 400).withColumn("v", (F.col("id") * 7919) % 1000)
        .coalesce(1),
    )
    for lo in (400, 800):
        snap.append(
            spark, root,
            spark.range(lo, lo + 400)
            .withColumn("v", (F.col("id") * 7919) % 1000)
            .coalesce(1),
        )
    rep = snap.compact_snapshot(
        spark, root, small_bytes=1 << 30, target_bytes=2 << 30, order_col="v"
    )
    assert rep["files_written"] >= 1
    for f in snap.load_manifest(spark, root)["data_files"]:
        vs = pq.read_table(f.removeprefix("file:")).column("v").to_pylist()
        assert vs == sorted(vs), f
    assert snap.read_snapshot(spark, root).count() == 1200


def test_merge_bloom_pruned_victim_scan_hash_layout(spark, root):
    """r4 verdict item #2: on a HASH layout every file's [min, max] range
    covers the key space, so range stats scan everything — the Bloom
    sidecar must narrow the victim scan to ~the files actually holding
    the batch keys, with an identical merge result."""
    df = spark.range(0, 8000).withColumn("v", F.col("id") * 3)
    snap.create_table(spark, root, df.repartition(8, "id"))  # hash layout
    stats = snap.snapshot_file_stats(spark, root, ["id"]).persist()
    blooms = snap.snapshot_file_blooms(spark, root, ["id"]).persist()
    blooms.count()
    # truth: which files hold the 3 update keys
    upd_keys = [17, 2900, 7777]
    from geocore_spark.sources import stats as st

    truth = {
        st.decode_file_url(r["f"])
        for r in snap.read_snapshot(spark, root)
        .filter(F.col("id").isin(upd_keys))
        .select(F.col("_metadata.file_path").alias("f"))
        .distinct()
        .collect()
    }
    batch = (
        spark.range(0, 8200)
        .filter(F.col("id").isin(upd_keys + [8100]))  # 3 updates + 1 insert
        .withColumn("v", F.col("id") * 9)
    )
    # range-stats alone: prunes nothing on this layout
    m1, s1 = snap.merge_into(spark, root, batch, ["id"], key_stats=stats)
    assert s1["files_total"] == 8 and s1["files_scanned"] == 8
    snap.rollback(spark, root, m1["version"] - 1)
    # with the sidecar: scan only the true victim files (+ rare fp)
    m2, s2 = snap.merge_into(
        spark, root, batch, ["id"], key_stats=stats, key_blooms=blooms
    )
    assert s2["files_total"] == 8
    assert s2["files_scanned"] >= len(truth)
    assert s2["files_scanned"] <= len(truth) + 1, (s2, truth)
    assert s2["rows_tombstoned"] == 3 and s2["rows_written"] == 4
    got = snap.read_snapshot(spark, root)
    assert got.count() == 8001
    assert _rows(got.filter(F.col("id").isin(upd_keys + [8100])).select("v")) \
        == sorted((k * 9,) for k in upd_keys + [8100])
    # bloom-only mode (no range manifest) picks the same victims
    # (m2 - 1 is the rollback commit whose file list == the original 8)
    snap.rollback(spark, root, m2["version"] - 1)
    m3, s3 = snap.merge_into(spark, root, batch, ["id"], key_blooms=blooms)
    assert s3["files_scanned"] == s2["files_scanned"]
    assert snap.read_snapshot(spark, root).count() == 8001
    stats.unpersist()
    blooms.unpersist()


def test_merge_bloom_validation(spark, root):
    _mk(spark, root)
    blooms = snap.snapshot_file_blooms(spark, root, ["id"]).persist()
    blooms.count()
    snap.append(spark, root, _batch(spark, 100, 120, 3))
    with pytest.raises(ValueError, match="key_blooms is stale"):
        snap.merge_into(spark, root, _batch(spark, 0, 5, 9), ["id"],
                        key_blooms=blooms)
    blooms.unpersist()
    # float keys refused for the bloom manifest too
    froot = root + "_f"
    snap.create_table(
        spark, froot,
        spark.range(10).select(F.col("id").cast("double").alias("k"),
                               F.col("id").alias("v")),
    )
    fbl = snap.snapshot_file_blooms(spark, froot, ["k"])
    fbatch = spark.range(3).select(F.col("id").cast("double").alias("k"),
                                   F.col("id").alias("v"))
    with pytest.raises(ValueError, match="floating-point"):
        snap.merge_into(spark, froot, fbatch, ["k"], key_blooms=fbl)


def test_keyed_writes_evaluate_an_unpersisted_sidecar_once(spark, root):
    """The coverage check and the victim probe read ONE collect of the
    sidecar: an unpersisted manifest (jobs/run_incremental passes one)
    is built once per keyed write, not once per check."""
    from pyspark.sql.types import StringType

    n_files = 8
    calls = spark.sparkContext.accumulator(0)

    @F.pandas_udf(StringType())
    def counted(f):
        calls.add(len(f))
        return f

    sidecars = {
        "key_blooms": snap.snapshot_file_blooms,
        "key_stats": snap.snapshot_file_stats,
    }
    for kind, build in sidecars.items():
        t = f"{root}_{kind}"
        snap.create_table(
            spark, t, spark.range(0, 800).withColumn("v", F.col("id") * 3)
            .repartition(n_files, "id"),
        )
        # the delete adds no data file, so the table has n_files at both
        for op in ("delete_by_key", "merge_into"):
            side = build(spark, t, ["id"]).withColumn("file", counted("file"))
            calls.value = 0
            if op == "delete_by_key":
                keys = spark.createDataFrame([(3,), (401,)], "id bigint")
                snap.delete_by_key(spark, t, keys, "id", **{kind: side})
            else:
                snap.merge_into(
                    spark, t, _batch(spark, 10, 12, 5), ["id"], **{kind: side}
                )
            assert calls.value == n_files, (kind, op, calls.value)


def test_sidecar_after_merge_with_empty_partition_file(spark, root):
    """Spark writes partition 0 of every write even when it is empty, so
    a merge can commit a zero-row data file that no per-file aggregate
    profiles. A sidecar built after that commit is not stale: the
    zero-row file holds no victim. A sidecar missing a file WITH rows
    still raises."""
    snap.create_table(
        spark, root, spark.range(0, 800).withColumn("v", F.col("id") * 3)
        .repartition(8, "id"),
    )
    # 2 rows over the default 4 range partitions: partition 0 is empty
    snap.merge_into(spark, root, _batch(spark, 10, 12, 5), ["id"])
    for kind, build, key in (
        ("key_stats", snap.snapshot_file_stats, 3),
        ("key_blooms", snap.snapshot_file_blooms, 4),
    ):
        live = snap.load_manifest(spark, root)["data_files"]
        empty = sum(spark.read.parquet(f).count() == 0 for f in live)
        assert empty >= 1
        side = build(spark, root, ["id"]).persist()
        assert side.count() == len(live) - empty
        keys = spark.createDataFrame([(key,), (11,)], "id bigint")
        _, st = snap.delete_by_key(spark, root, keys, "id", **{kind: side})
        assert st["rows_deleted"] == (2 if kind == "key_stats" else 1), kind
        snap.append(spark, root, _batch(spark, 900 + key, 901 + key, 1))
        with pytest.raises(ValueError, match=f"{kind} is stale"):
            snap.delete_by_key(spark, root, keys, "id", **{kind: side})
        side.unpersist()


# ---------------------------------------------------------------------------
# cross-process races against compact_snapshot
# ---------------------------------------------------------------------------

# every race worker: its own JVM, argv = (root, n, tag); touches
# root/.ready-<tag> once its session is up, then waits for root/.go
_WORKER_PREAMBLE = """
import os, sys, time
from pyspark.sql import functions as F
from geocore_spark.session import get_spark
from geocore_spark.sources import snapshots as snap

root, n, tag = sys.argv[1], int(sys.argv[2]), sys.argv[3]
spark = get_spark("race-" + tag, master="local[2]", shuffle_partitions=2)
open(f"{root}/.ready-{tag}", "w").close()
while not os.path.exists(root + "/.go"):
    time.sleep(0.05)
"""


def _run_race(root, tmp_path, workers):
    """Launch each ``(tag, body, n)`` worker and release them together
    only after every session is up, so the operation windows genuinely
    overlap. Returns each worker's stdout."""
    env = dict(os.environ, PYTHONPATH=str(Path(__file__).resolve().parents[1]))
    procs = []
    for tag, body, n in workers:
        script = tmp_path / f"race-{tag}.py"
        script.write_text(_WORKER_PREAMBLE + body)
        procs.append(subprocess.Popen(
            [sys.executable, str(script), root, str(n), tag],
            env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        ))
    try:
        deadline = time.time() + 300
        while not all(os.path.exists(f"{root}/.ready-{t}") for t, _, _ in workers):
            assert time.time() < deadline, "workers never came up"
            time.sleep(0.2)
        open(root + "/.go", "w").close()
        outs = []
        for p in procs:
            out, err = p.communicate(timeout=600)
            assert p.returncode == 0, f"worker failed:\n{out}\n{err[-3000:]}"
            outs.append(out)
        return outs
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
                p.wait()


def _history(spark, root):
    """Operation of every version 1..latest, asserting the chain is
    contiguous."""
    ops = []
    for v in range(1, snap.latest_version(spark, root) + 1):
        m = snap.load_manifest(spark, root, v)
        assert m["version"] == v
        ops.append(m["operation"])
    return ops


def test_concurrent_compact_vs_merge_race(spark, root, tmp_path):
    """r4 verdict item #6 — the classic MoR conflict, cross-process:
    one JVM repeatedly MERGEs (tombstoning rows in files a concurrent
    compaction may be rewriting) while another JVM repeatedly compacts.
    Both are non-rebaseable by design, so whichever loses a given race
    must abort with ConcurrentCommit and succeed on retry against the
    new state. Zero lost updates either way: the final table equals the
    sequential merge algebra, every merge landed exactly once (txn
    tokens), and the history is a contiguous create/merge/compact
    chain."""
    df = spark.range(0, 100).withColumn("v", F.col("id") * 3)
    snap.create_table(spark, root, df.repartition(6))
    n_merges, n_compacts = 4, 8
    merger = """
aborts = 0
for i in range(n):
    batch = spark.range(0, 50).select(
        "id", (F.lit(1000) + i).cast("long").alias("v")
    )
    while True:
        try:
            m = snap.merge_into(spark, root, batch, ["id"], txn=("m", i))
            assert m is not None, f"merge {i} txn-skipped unexpectedly"
            break
        except snap.ConcurrentCommit:
            aborts += 1
    time.sleep(0.2)
print("MERGER-OK", aborts)
"""
    compactor = """
aborts = done = 0
for i in range(n):
    try:
        snap.compact_snapshot(spark, root, small_bytes=1 << 30, target_bytes=2 << 30)
        done += 1
    except snap.ConcurrentCommit:
        aborts += 1
    time.sleep(0.1)
print("COMPACTOR-OK", done, aborts)
"""
    outs = _run_race(
        root, tmp_path, [("m", merger, n_merges), ("c", compactor, n_compacts)]
    )
    assert "MERGER-OK" in outs[0] and "COMPACTOR-OK" in outs[1]

    # contiguous history, every merge landed exactly once
    ops = _history(spark, root)
    assert ops[0] == "create"
    assert ops.count("merge") == n_merges
    assert set(ops) <= {"create", "merge", "compact"}
    assert snap.load_manifest(spark, root)["txns"] == {"m": n_merges - 1}

    # zero lost updates: merges are sequential in one process, so the
    # LAST batch wins on keys 0..49; 50..99 keep their original rows —
    # regardless of how many compactions interleaved where
    got = _rows(snap.read_snapshot(spark, root))
    want = sorted(
        [(i, 1000 + n_merges - 1) for i in range(50)]
        + [(i, i * 3) for i in range(50, 100)]
    )
    assert got == want


def test_concurrent_compact_vs_delete_by_key_race(spark, root, tmp_path):
    """Erasure racing compaction, cross-process: one JVM erases disjoint
    key batches with delete_by_key while another appends one small file
    and compacts every file, over and over (the append keeps each
    compaction rewriting the file that holds the erasure victims). A
    delete whose victim files were compacted away refuses to commit
    (ConcurrentCommit from the liveness check) and is retried against
    the new files; a compaction that lost the race aborts. If neither
    loses, both land in sequence. Either way no erased key is ever
    readable again: every version holds exactly the rows the sequential
    create/append/erase algebra leaves at that point."""
    df = spark.range(0, 100).withColumn("v", F.col("id") * 3)
    snap.create_table(spark, root, df.repartition(6))
    n_deletes, n_compacts = 4, 8
    # batch i erases ids 10*i .. 10*i+4
    deleter = """
aborts = 0
for i in range(n):
    keys = spark.range(10 * i, 10 * i + 5)
    while True:
        try:
            m, st = snap.delete_by_key(spark, root, keys, "id")
            assert m is not None and st["rows_deleted"] == 5, (i, st)
            break
        except snap.ConcurrentCommit:
            aborts += 1
    time.sleep(0.2)
print("DELETER-OK", aborts)
"""
    # append i adds id 1000+i, never an erased key
    feeder = """
aborts = done = 0
for i in range(n):
    snap.append(
        spark, root, spark.range(1000 + i, 1001 + i).withColumn("v", F.col("id") * 3)
    )
    try:
        snap.compact_snapshot(spark, root, small_bytes=1 << 30, target_bytes=2 << 30)
        done += 1
    except snap.ConcurrentCommit:
        aborts += 1
    time.sleep(0.1)
print("COMPACTOR-OK", done, aborts)
"""
    outs = _run_race(
        root, tmp_path, [("d", deleter, n_deletes), ("c", feeder, n_compacts)]
    )
    assert "DELETER-OK" in outs[0] and "COMPACTOR-OK" in outs[1]

    ops = _history(spark, root)
    assert ops[0] == "create"
    assert ops.count("delete") == n_deletes
    assert ops.count("append") == n_compacts
    assert set(ops) <= {"create", "append", "delete", "compact"}
    # each worker is sequential, so the k-th delete commit is batch k and
    # the j-th append is id 1000+j
    ids = set(range(100))
    n_del = n_app = 0
    for v, op in enumerate(ops, start=1):
        if op == "delete":
            ids -= set(range(10 * n_del, 10 * n_del + 5))
            n_del += 1
        elif op == "append":
            ids.add(1000 + n_app)
            n_app += 1
        got = _rows(snap.read_snapshot(spark, root, v))
        assert got == [(i, i * 3) for i in sorted(ids)], (v, op)
