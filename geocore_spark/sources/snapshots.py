"""Snapshot table: a versioned commit log over raw parquet, with
merge-on-read positional deletes — the table-format layer the engine's
checkpoint/resume story names ("resumable from Iceberg snapshot
checkpoints") built from public technique (Iceberg/Delta commit-log
design), owned by the engine because pyspark ships no Iceberg runtime
jar (see plans/checkpoint.py note).

Layout::

    table/
      data/<commit-uuid>-partNNN.parquet      immutable once committed
      deletes/<commit-uuid>-partNNN.parquet   (_gc_file, _gc_pos) rows
      _log/v00000001.json ...                 one FULL manifest per version

Why this shape survives 100 TB:

- **Visibility = the manifest.** Data files are written (staged, then
  renamed into ``data/``) BEFORE the manifest commit; the manifest
  rename is the single atomic step. A crash anywhere earlier leaves
  orphan files no reader can see — readers always plan from a committed
  manifest, so every read is a consistent snapshot even while a writer
  is mid-commit. Maintenance commits (MERGE, compaction, rewrite) are
  atomic the same way: new files + new manifest, old files retained
  for time travel — never a live-directory swap that could expose
  duplicates.
- **Optimistic concurrency.** A commit stages its manifest, renames it
  into the version slot, then reads the slot back and checks its own
  commit uuid landed — rename refuses an existing destination on HDFS
  but OVERWRITES on LocalFS/object stores, so last-writer-wins plus
  loser-detects is what actually holds everywhere (see
  :func:`_try_commit`). Append/delete commits rebase onto the new
  latest and retry; rewrite and rollback refuse to rebase (their file
  list is a function of the snapshot they read) and raise
  ``ConcurrentCommit``.
- **Row-level DELETE without rewriting files** (merge-on-read,
  Iceberg-v2 positional deletes): :func:`delete_where` evaluates the
  predicate once and records ``(file, row_index)`` of the victims using
  Spark's ``_metadata.row_index`` — stable across input splits (pinned
  by tests on a 25-row-group file read in 7 splits). The reader
  broadcast-anti-joins the delete vectors; cost is one broadcast of the
  (bounded) delete set, zero shuffle of the data. At 100 TB a delete
  batch rewrites NOTHING — the alternative (upsert-style hit-file
  rewrite) is O(hit file bytes) per batch. When vectors accumulate,
  :func:`rewrite_files` materializes them (read-minus-deletes, write
  fresh files, one commit) and the table is delete-free again.
- **MERGE and maintenance on the same mechanism**: :func:`merge_into`
  is upsert as one atomic commit (vectors for the matched rows + new
  files for the batch, zero rewrites); :func:`compact_snapshot`
  bin-packs small files (streaming-ingest and merge debris) without
  touching the rest of the table.
- **Bounded metadata.** A manifest is one JSON row per live file
  (~800 k files at 100 TB — tens of MB, same order as any format's
  manifest). Writing the FULL list per commit is O(files) per commit;
  Iceberg amortizes this with reusable manifest files + a manifest
  list — the documented evolution path, not needed at this file count.
- **Time travel / rollback / expiry.** Every version's manifest is
  retained until :func:`expire_snapshots` drops it; old data files are
  deleted only when no retained manifest references them. Rollback is a
  NEW commit that re-points at an old version's files (history is
  append-only, Iceberg semantics).
- **Schema evolution is metadata-only** (:func:`add_columns` /
  :func:`drop_columns`): the commit changes the manifest schema, zero
  data files move — readers reconcile NAME-based because every scan
  passes the manifest schema explicitly (added column absent from an
  old file reads as NULL; a dropped column still physically present is
  projected away). Name-based is the honest no-field-ids tradeoff:
  once-used names are burned (``column_history``) so a re-add can never
  resurrect or type-poison old file data; renames/type changes are
  refused (drop+add / rewrite-with-cast instead).
- **Incremental consumption** (:func:`read_changes`): a downstream job
  that processed version N reads only the files committed since — the
  per-commit file-list diffs yield inserts, the per-commit delete
  vectors joined back to the files they name yield deletes. O(changed
  bytes) per poll, never a table scan; refuses overwrite/rollback
  ranges the way Iceberg's incremental scan refuses replace commits.

Reference analogue: the reference leans on Snowflake's internal
versioned micro-partition metadata for all of this (woodgilber/GeoCore
modeling/datasets/base.py:74-76 CTAS re-creates); here the engine owns
the log. Composes with sources/stats.py (build the stats manifest from
a snapshot's live files) and functions/layout.py (pass ``order_col`` to
``rewrite_files`` to keep a Z-order layout through maintenance).
"""

from __future__ import annotations

import json
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from geocore_spark.sources.io import _fs

# reserved column names inside delete-vector files (never collide with a
# user schema — readers join on them and drop them before returning rows)
_DV_FILE = "_gc_file"
_DV_POS = "_gc_pos"
_DV_SCHEMA = StructType(
    [StructField(_DV_FILE, StringType()), StructField(_DV_POS, LongType())]
)
# change-feed output columns (read_changes) — reserved like the above
_CDC_TYPE = "_change_type"
_CDC_VERSION = "_commit_version"
_RESERVED = {_DV_FILE, _DV_POS, _CDC_TYPE, _CDC_VERSION}


class ConcurrentCommit(RuntimeError):
    """A non-rebaseable commit (rewrite/rollback) lost the race: another
    writer committed first and this commit's file list was computed from
    a snapshot that is no longer latest. Re-run against the new state."""


class NoSuchVersion(ValueError):
    """Requested version has no manifest (never existed, or expired)."""


class _AlreadyApplied(Exception):
    """Internal: an idempotent commit's (app, batch) token was already
    recorded by an earlier commit — skip, don't double-append."""


# ---------------------------------------------------------------------------
# filesystem plumbing (Hadoop FS API: same code on file://, hdfs://, s3a://)
# ---------------------------------------------------------------------------


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    fs, p, _ = _fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _read_text(spark: SparkSession, path: str) -> str:
    fs, p, jvm = _fs(spark, path)
    stream = fs.open(p)
    try:
        return (
            jvm.org.apache.commons.io.IOUtils.toString(
                stream, jvm.java.nio.charset.StandardCharsets.UTF_8
            )
        )
    finally:
        stream.close()


def _list_dir(spark: SparkSession, path: str) -> list[tuple[str, int, int]]:
    """(path, bytes, mtime_ms) per plain file; [] for a missing dir."""
    fs, p, _ = _fs(spark, path)
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isFile() and not name.startswith(("_", ".")):
            out.append(
                (st.getPath().toString(), int(st.getLen()), int(st.getModificationTime()))
            )
    return sorted(out)


def _log_dir(root: str) -> str:
    return root.rstrip("/") + "/_log"


def _manifest_path(root: str, version: int) -> str:
    return f"{_log_dir(root)}/v{version:08d}.json"


def _log_versions(spark: SparkSession, root: str) -> list[int]:
    fs, p, _ = _fs(spark, _log_dir(root))
    if not fs.exists(p):
        return []
    vs = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.startswith("v") and name.endswith(".json"):
            vs.append(int(name[1:-5]))
    return sorted(vs)


def latest_version(spark: SparkSession, root: str) -> int | None:
    vs = _log_versions(spark, root)
    return vs[-1] if vs else None


def load_manifest(spark: SparkSession, root: str, version: int | None = None) -> dict:
    if version is None:
        version = latest_version(spark, root)
        if version is None:
            raise NoSuchVersion(f"no committed snapshot at {root}")
    fs, _, _ = _fs(spark, root)
    path = _manifest_path(root, version)
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(p):
        raise NoSuchVersion(f"version {version} at {root} (never committed or expired)")
    return json.loads(_read_text(spark, path))


def history(spark: SparkSession, root: str) -> list[dict]:
    """Commit history, oldest first — file LISTS elided to counts (the
    lists are per-version manifests; history is the summary view)."""
    out = []
    for v in _log_versions(spark, root):
        m = load_manifest(spark, root, v)
        out.append(
            {
                "version": m["version"],
                "operation": m["operation"],
                "ts": m["ts"],
                "n_data_files": len(m["data_files"]),
                "n_delete_files": len(m["delete_files"]),
                "rows_changed": m.get("rows_changed"),
                "source_version": m.get("source_version"),
            }
        )
    return out


# ---------------------------------------------------------------------------
# commit protocol
# ---------------------------------------------------------------------------


def _try_commit(spark: SparkSession, root: str, manifest: dict) -> bool:
    """Stage the manifest JSON, rename to its version slot, then read the
    slot back and check OUR commit uuid is the one that landed. The
    read-back matters: HDFS rename refuses an existing destination, but
    LocalFS (POSIX rename) and object-store renames OVERWRITE — two
    racers could both "succeed" with the last writer silently clobbering
    the first. Last-writer-wins plus loser-detects-and-retries makes the
    protocol lose no commit on any filesystem: whichever uuid the slot
    holds wins, everyone else returns False and rebases."""
    version = manifest["version"]
    manifest = dict(manifest, commit_uuid=uuid.uuid4().hex)
    fs, _, jvm = _fs(spark, root)
    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(_log_dir(root)))
    tmp = f"{_log_dir(root)}/.tmp-{manifest['commit_uuid']}"
    _write_text(spark, tmp, json.dumps(manifest, sort_keys=True))
    dest = jvm.org.apache.hadoop.fs.Path(_manifest_path(root, version))
    if fs.exists(dest):  # cheap pre-check: don't clobber a visible commit
        fs.delete(jvm.org.apache.hadoop.fs.Path(tmp), False)
        return False
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), dest):
        fs.delete(jvm.org.apache.hadoop.fs.Path(tmp), False)
        return False
    landed = json.loads(_read_text(spark, _manifest_path(root, version)))
    return landed.get("commit_uuid") == manifest["commit_uuid"]


def _commit(spark: SparkSession, root: str, build, rebase: bool, retries: int = 20) -> dict:
    """Optimistic-concurrency commit loop. ``build(latest_manifest_or_None,
    next_version) -> manifest dict``; rebaseable commits rebuild from the
    fresh latest on every attempt, non-rebaseable ones raise on conflict."""
    for _ in range(retries):
        latest = latest_version(spark, root)
        parent = load_manifest(spark, root, latest) if latest is not None else None
        manifest = build(parent, (latest or 0) + 1)
        if _try_commit(spark, root, manifest):
            return manifest
        if not rebase:
            raise ConcurrentCommit(
                f"version {(latest or 0) + 1} at {root} was committed concurrently"
            )
    raise ConcurrentCommit(f"gave up after {retries} commit attempts at {root}")


def _stage_files(
    spark: SparkSession, root: str, df: DataFrame, kind: str
) -> list[str]:
    """Write ``df`` to a staging dir, then move each part file into
    ``root/<kind>/`` under a fresh commit uuid. The moved files are
    ORPHANS (invisible) until a manifest referencing them commits."""
    fs, _, jvm = _fs(spark, root)
    cid = uuid.uuid4().hex[:12]
    staging = f"{root.rstrip('/')}/_staging/{cid}"
    df.write.mode("overwrite").parquet(staging)
    dest_dir = f"{root.rstrip('/')}/{kind}"
    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(dest_dir))
    final: list[str] = []
    for st in fs.listStatus(jvm.org.apache.hadoop.fs.Path(staging)):
        name = st.getPath().getName()
        if st.isFile() and not name.startswith(("_", ".")):
            dest = jvm.org.apache.hadoop.fs.Path(f"{dest_dir}/{cid}-{name}")
            if not fs.rename(st.getPath(), dest):
                raise IOError(f"staging rename failed: {name}")
            # store the fully-qualified URI: delete vectors record
            # _metadata.file_path (always qualified, e.g. file:/x), and
            # delete_where's liveness check compares those strings against
            # the manifest's — one unqualified spelling would break it
            final.append(fs.makeQualified(dest).toString())
    fs.delete(jvm.org.apache.hadoop.fs.Path(staging), True)
    return sorted(final)


def _count_parquet(spark: SparkSession, paths: list[str]) -> int:
    """Row count from parquet footers only (aggregate pushdown) — a
    commit must not cost a data scan just to record its row count."""
    if not paths:
        return 0
    key = "spark.sql.parquet.aggregatePushdown"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        return spark.read.parquet(*paths).count()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


# ---------------------------------------------------------------------------
# table operations
# ---------------------------------------------------------------------------


def create_table(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    txn: tuple[str, int] | None = None,
) -> dict:
    """Commit v1 from ``df``. Fails if the table already has a log.
    ``txn=(app, batch)``: record an idempotence token (see append)."""
    if latest_version(spark, root) is not None:
        raise ValueError(f"snapshot table already exists at {root}")
    reserved = _RESERVED & set(df.columns)
    if reserved:
        raise ValueError(
            f"column names {sorted(reserved)} are reserved for delete-vector "
            "and change-feed provenance — rename them before creating a "
            "snapshot table"
        )
    files = _stage_files(spark, root, df, "data")
    rows = _count_parquet(spark, files)
    schema_json = df.schema.json()

    def build(parent, version):
        if parent is not None:
            raise ValueError(f"snapshot table already exists at {root}")
        return _manifest(
            version, "create", schema_json, files, [], rows,
            txns={txn[0]: txn[1]} if txn else {},
            column_history=sorted(df.columns),
        )

    return _commit(spark, root, build, rebase=True)


def append(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    txn: tuple[str, int] | None = None,
) -> dict | None:
    """Commit appended files. Rebaseable: a concurrent append/delete wins
    the slot and this commit retries on top of it — both survive.

    ``txn=(app, batch)``: exactly-once token for at-least-once producers
    (streaming foreachBatch retries, resumed jobs — the Delta
    txnAppId/txnVersion move). Each manifest carries the highest batch
    committed per app; if ``batch`` <= that, the data was already
    committed by a previous attempt and this call returns None without
    committing (the token check re-runs on every rebase attempt, so a
    retry racing its own predecessor can't double-append either). The
    staged files are removed on skip."""
    base = load_manifest(spark, root)  # schema source + existence check
    df = _enforce_table_schema(base, df, "append")
    if txn is not None:
        if base.get("txns", {}).get(txn[0], -1) >= txn[1]:
            return None  # already committed; don't even stage
    files = _stage_files(spark, root, df, "data")
    rows = _count_parquet(spark, files)

    def build(parent, version):
        # the staged files were validated against base's schema; if a
        # concurrent evolve/overwrite changed it, committing them under
        # the NEW schema could type-poison every multi-file read — the
        # exact failure the enforcement above exists to prevent. Schema
        # changes are not rebase-safe for an append: fail loudly, the
        # caller re-validates against the new schema and retries.
        if parent["schema"] != base["schema"]:
            raise ConcurrentCommit(
                f"table schema at {root} changed while appending — "
                "re-run append against the new schema"
            )
        txns = dict(parent.get("txns", {}))
        if txn is not None:
            if txns.get(txn[0], -1) >= txn[1]:
                raise _AlreadyApplied()
            txns[txn[0]] = txn[1]
        return _manifest(
            version,
            "append",
            parent["schema"],
            parent["data_files"] + files,
            parent["delete_files"],
            rows,
            txns=txns,
            column_history=_history_of(parent),
        )

    try:
        return _commit(spark, root, build, rebase=True)
    except ConcurrentCommit:
        fs, _, jvm = _fs(spark, root)
        for f in files:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f), False)
        raise
    except _AlreadyApplied:
        fs, _, jvm = _fs(spark, root)
        for f in files:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f), False)
        return None


def _enforce_table_schema(base: dict, df: DataFrame, op: str) -> DataFrame:
    """Commit-time schema gate for append/merge: exact name+type match
    against the manifest schema, columns selected into manifest order.
    A type-mismatched parquet file (e.g. INT committed onto a BIGINT
    column) poisons the table — every later multi-file read fails with
    PARQUET_COLUMN_DATA_TYPE_MISMATCH. Reject loudly here; the caller
    casts deliberately."""
    table_schema = StructType.fromJson(json.loads(base["schema"]))
    missing = [f.name for f in table_schema.fields if f.name not in df.columns]
    if missing:
        raise ValueError(f"{op} missing table columns: {missing}")
    by_name = {f.name: f.dataType for f in df.schema.fields}
    bad = [
        (f.name, str(by_name[f.name]), str(f.dataType))
        for f in table_schema.fields
        if by_name[f.name] != f.dataType
    ]
    if bad:
        raise ValueError(
            f"{op} column types must match the table schema exactly "
            f"(got, expected): {bad}"
        )
    return df.select(*table_schema.fieldNames())


def overwrite(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    txn: tuple[str, int] | None = None,
) -> dict | None:
    """Replace the table's full content with ``df`` as one atomic commit
    (the versioned-publish op: each pipeline run commits a new version,
    consumers keep reading their snapshot, old versions stay
    time-travelable until expiry). Unlike append, the schema may change
    — an overwrite defines the table anew. Rebaseable: the result does
    not depend on the parent, so a lost race just takes the next slot.
    ``txn``: same idempotence token as append (a re-delivered publish
    becomes a no-op)."""
    base = load_manifest(spark, root)  # must exist (create_table otherwise)
    if txn is not None and base.get("txns", {}).get(txn[0], -1) >= txn[1]:
        return None
    reserved = _RESERVED & set(df.columns)
    if reserved:
        raise ValueError(f"column names {sorted(reserved)} are reserved")
    files = _stage_files(spark, root, df, "data")
    rows = _count_parquet(spark, files)
    schema_json = df.schema.json()

    def build(parent, version):
        txns = dict(parent.get("txns", {}))
        if txn is not None:
            if txns.get(txn[0], -1) >= txn[1]:
                raise _AlreadyApplied()
            txns[txn[0]] = txn[1]
        return _manifest(
            version, "overwrite", schema_json, files, [], rows, txns=txns,
            column_history=sorted(set(_history_of(parent)) | set(df.columns)),
        )

    try:
        return _commit(spark, root, build, rebase=True)
    except _AlreadyApplied:
        fs, _, jvm = _fs(spark, root)
        for f in files:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f), False)
        return None


def _read_with_pos(spark: SparkSession, manifest: dict) -> DataFrame:
    """Snapshot rows + (_gc_file, _gc_pos) provenance, existing delete
    vectors already applied — the shared core of read and delete.

    Reads with the manifest's EXPLICIT schema (never footer inference):
    name-based reconciliation makes schema evolution work — a column
    added by :func:`add_columns` is absent from older files and comes
    back NULL; a dropped column still physically present in old files is
    projected away. Inference would instead union footers (resurrecting
    dropped columns) and cost a footer read per file at plan time."""
    data = manifest["data_files"]
    schema = StructType.fromJson(json.loads(manifest["schema"]))
    if not data:
        base = spark.createDataFrame([], schema)
        return base.withColumn(_DV_FILE, F.lit(None).cast("string")).withColumn(
            _DV_POS, F.lit(None).cast("long")
        )
    df = spark.read.schema(schema).parquet(*data).select(
        "*",
        F.col("_metadata.file_path").alias(_DV_FILE),
        F.col("_metadata.row_index").alias(_DV_POS),
    )
    if manifest["delete_files"]:
        dv = spark.read.schema(_DV_SCHEMA).parquet(*manifest["delete_files"])
        # broadcast the bounded delete set: zero shuffle of the data side
        df = df.join(F.broadcast(dv), on=[_DV_FILE, _DV_POS], how="left_anti")
    return df


def read_snapshot(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """The table as of ``version`` (default latest): exactly the files
    that manifest lists, minus its delete vectors. Plans only from
    committed state — concurrent writers are invisible."""
    m = load_manifest(spark, root, version)
    return _read_with_pos(spark, m).drop(_DV_FILE, _DV_POS)


def delete_where(
    spark: SparkSession, root: str, condition: Column | str
) -> tuple[dict | None, int]:
    """Merge-on-read DELETE: record (file, row_index) of rows matching
    ``condition`` in the CURRENT snapshot as a delete-vector commit.
    Rewrites nothing. Positions are frozen at evaluation time and name
    specific files, so later appends are naturally unaffected. Returns
    (manifest, rows_deleted); no commit when nothing matches.

    Rebaseable: on a lost race the SAME vectors re-commit on top of the
    new latest — sound vs concurrent appends (new files aren't named
    here) and concurrent deletes (vectors union; duplicates are
    anti-join no-ops). A concurrent REWRITE conflicts (it may have
    dropped the named files); that race loses loudly instead: the rebase
    checks every named file is still live."""
    if isinstance(condition, str):
        condition = F.expr(condition)
    m = load_manifest(spark, root)
    victims = (
        _read_with_pos(spark, m)
        .filter(condition)
        .select(F.col(_DV_FILE), F.col(_DV_POS))
    )
    return _commit_delete_vectors(spark, root, victims)


def delete_by_key(
    spark: SparkSession,
    root: str,
    keys: DataFrame,
    key_col: str,
    key_stats: DataFrame | None = None,
    key_blooms: DataFrame | None = None,
) -> tuple[dict | None, dict]:
    """Keyed merge-on-read DELETE — the retention/right-to-erasure
    primitive: tombstone every current-snapshot row whose ``key_col``
    appears in ``keys`` (a DataFrame; duplicates and NULLs are
    harmless — semi-join semantics), as one delete-vector commit,
    rewriting nothing.

    Unlike :func:`delete_where` (arbitrary predicate — must scan every
    live file), the victim scan here is PRUNABLE sound-by-construction
    through the same persisted manifests MERGE uses: per-file [min,max]
    ranges (``key_stats``, tight on key-clustered layouts) and Bloom
    sidecars (``key_blooms``, the only pruner on hash layouts), both
    probed DISTRIBUTED — keys never reach the driver, a 10^9-key
    erasure batch probes in place. Pruned-away files cannot hold a
    victim (range containment / bloom soundness), so the semi-join over
    the kept files finds exactly the rows a full scan would. Float
    keys are refused under pruning (the NaN-extrema trap). Same
    rebase semantics as delete_where.

    Returns (manifest | None if nothing matched, {"rows_deleted",
    "files_scanned", "files_total"}).
    """
    m = load_manifest(spark, root)
    table_schema = StructType.fromJson(json.loads(m["schema"]))
    if key_col not in table_schema.fieldNames():
        raise ValueError(f"delete key not in table schema: {key_col}")
    if key_stats is not None or key_blooms is not None:
        _refuse_float_prune_key(table_schema, key_col, "delete_by_key")
    ktype = table_schema[key_col].dataType
    keys = keys.select(F.col(key_col).cast(ktype).alias(key_col))
    live = m["data_files"]
    scan_files = _pruned_victim_files(
        live, keys, key_col, key_stats, key_blooms
    )
    victims = (
        _read_with_pos(spark, dict(m, data_files=scan_files))
        .join(keys, on=key_col, how="left_semi")
        .select(F.col(_DV_FILE), F.col(_DV_POS))
    )
    manifest, n = _commit_delete_vectors(spark, root, victims)
    return manifest, {
        "rows_deleted": n,
        "files_scanned": len(scan_files),
        "files_total": len(live),
    }


def _commit_delete_vectors(
    spark: SparkSession, root: str, victims: DataFrame
) -> tuple[dict | None, int]:
    """Shared tail of the MoR delete family: stage the (file, pos)
    vectors, count + collect the named-file set in one bounded pass,
    and commit rebaseably with the liveness check."""
    # staged with the scan's NATURAL partitioning — the vector build is
    # as parallel as the victim scan (a churn-heavy delete over 10^12
    # rows would serialize through a repartition(1)); Spark writes no
    # file for an empty partition, the manifest carries a LIST of
    # vector files, and the read side broadcasts their union.
    files = _stage_files(spark, root, victims, "deletes")
    if not files:  # nothing matched anywhere (or every file pruned)
        return None, 0
    # one pass over the (bounded) staged vectors yields both the row
    # count and the named-file set for the liveness check. _DV_FILE
    # holds _metadata.file_path (URI-escaped); manifests hold the
    # decoded Hadoop rendering — decode before comparing.
    from geocore_spark.sources.stats import decode_file_url

    per_file = (
        spark.read.schema(_DV_SCHEMA)
        .parquet(*files)
        .groupBy(_DV_FILE)
        .count()
        .collect()
    )
    n = sum(r["count"] for r in per_file)
    if n == 0:
        fs, _, jvm = _fs(spark, root)
        for f in files:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f), False)
        return None, 0
    named = {decode_file_url(r[_DV_FILE]) for r in per_file}

    def build(parent, version):
        live = set(parent["data_files"])
        gone = named - live
        if gone:
            raise ConcurrentCommit(
                f"delete targets files no longer live (concurrent rewrite?): "
                f"{sorted(gone)[:3]}..."
            )
        return _manifest(
            version,
            "delete",
            parent["schema"],
            parent["data_files"],
            parent["delete_files"] + files,
            -n,
            txns=parent.get("txns", {}),
            column_history=_history_of(parent),
        )

    return _commit(spark, root, build, rebase=True), n


def rewrite_files(
    spark: SparkSession,
    root: str,
    n_files: int | None = None,
    order_col: str | None = None,
) -> dict:
    """Materialize: read the current snapshot (deletes applied), write
    fresh data files, commit a delete-free manifest. The compaction /
    delete-vector-absorption / re-clustering move — old files stay on
    disk for time travel until expire_snapshots. ``order_col``: range-
    partition + sort (keeps a Z-order layout, functions/layout.py).
    Non-rebaseable: raises ConcurrentCommit if anyone commits first."""
    m = load_manifest(spark, root)
    cur = _read_with_pos(spark, m).drop(_DV_FILE, _DV_POS)
    n_out = n_files or max(1, len(m["data_files"]))
    if order_col is not None:
        out = cur.repartitionByRange(n_out, F.col(order_col)).sortWithinPartitions(
            order_col
        )
    else:
        out = cur.repartition(n_out)
    files = _stage_files(spark, root, out, "data")
    rows = _count_parquet(spark, files)

    def build(parent, version):
        # the slot race alone doesn't cover the window between our
        # load_manifest(m) above and _commit's fresh latest_version read:
        # a commit landing in between would otherwise be silently
        # clobbered (our file list was computed WITHOUT its changes)
        if parent is None or parent["version"] != m["version"]:
            raise ConcurrentCommit(
                f"snapshot advanced past v{m['version']} while rewriting "
                f"{root} — re-run against the new state"
            )
        return _manifest(
            version, "rewrite", m["schema"], files, [], rows,
            txns=parent.get("txns", {}),
            column_history=_history_of(parent),
        )

    return _commit(spark, root, build, rebase=False)


def _pruned_victim_files(
    live: list[str],
    keys_df: DataFrame,
    prune_col: str,
    key_stats: DataFrame | None,
    key_blooms: DataFrame | None,
) -> list[str]:
    """Victim-scan breadth for a keyed write (MERGE / keyed delete):
    all live files, narrowed by whichever manifests the caller
    persisted — [min, max] ranges first (probe_victim_files: the
    distributed searchsorted kernel, tight on key-clustered layouts),
    then Bloom sidecars over the survivors (probe_victim_files_bloom:
    the bitmap-broadcast kernel, the only pruner on hash layouts).
    Keys never reach the driver through either probe. Both manifests
    must cover every live file (stale = loud error, like a stale
    Iceberg manifest would be corruption): stats._check_covers reads
    the rows the probe collects, so each manifest is evaluated once."""
    if (key_stats is None and key_blooms is None) or not live:
        return live
    from geocore_spark.sources import stats as st

    spark = keys_df.sparkSession
    scan_files = live
    if key_stats is not None:
        rows = st._range_rows(key_stats, prune_col)
        st._check_covers(spark, rows, live, "key_stats", "snapshot_file_stats")
        # distributed victim probe: ranges broadcast INTO a mapInPandas
        # searchsorted kernel over the keys — only hit file indices are
        # collected, so the batch may be arbitrarily large
        hitset = st._probe_ranges(keys_df.select(prune_col), prune_col, rows)
        scan_files = [f for f in live if f in hitset]
    if key_blooms is not None and scan_files:
        rows = st._bloom_rows(key_blooms, prune_col)
        st._check_covers(
            spark, rows, live, "key_blooms", "snapshot_file_blooms"
        )
        # point-lookup probe over the range survivors only: the bitmap
        # broadcast is bounded by the candidate set, and on a hash
        # layout (ranges prune nothing) this is what keeps a point-key
        # write from scanning every live file
        bloomset = st._probe_blooms(
            keys_df.select(prune_col), prune_col, rows, set(scan_files)
        )
        scan_files = [f for f in scan_files if f in bloomset]
    return scan_files


def _refuse_float_prune_key(
    table_schema: StructType, prune_col: str, op: str
) -> None:
    ptype = dict(
        (f.name, f.dataType.typeName()) for f in table_schema.fields
    )[prune_col]
    if ptype in ("float", "double"):
        raise ValueError(
            f"{op}: victim pruning on a {ptype} key column is unsound "
            "(NaN joins as equal but is excluded from file range "
            "extrema, so a NaN-keyed victim file would be missed; "
            "refused uniformly for both manifests) — pass "
            "key_stats=None and key_blooms=None for floating-point "
            "keys"
        )


def merge_into(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    keys: list[str],
    txn: tuple[str, int] | None = None,
    key_stats: DataFrame | None = None,
    key_blooms: DataFrame | None = None,
) -> tuple[dict | None, dict]:
    """MERGE (upsert) as ONE atomic merge-on-read commit: every target
    row whose key matches a source row is tombstoned via positional
    delete vectors, every source row lands as new data files — WHEN
    MATCHED THEN UPDATE (whole-row replace), WHEN NOT MATCHED THEN
    INSERT, with zero target files rewritten. Visibility is atomic (a
    reader sees pre-merge or post-merge, never a half-state) and the
    pre-merge version stays readable by time travel.

    At 100 TB: O(batch) bytes written, and the victim lookup scans only
    the files the batch can possibly hit when ``key_stats`` is given —
    a per-file [min, max] manifest of ``keys[0]`` (build once per
    maintenance cycle with :func:`snapshot_file_stats`). Hit files are
    picked by searchsorted of the batch's (bounded) key set against
    each file's range; on a key-clustered layout (``rewrite_files``
    with order_col=key) a batch hits few files.
    On a HASH layout every file's range covers the key space and range
    stats prune nothing — pass ``key_blooms`` (a persisted
    :func:`snapshot_file_blooms` sidecar of ``keys[0]``) and victim
    files are picked by a distributed Bloom probe instead
    (sources/stats.probe_victim_files_bloom: bitmaps broadcast into a
    mapInPandas kernel over the staged keys, only hit file indices
    reach the driver). The two manifests COMPOSE when both are given:
    ranges prune first, blooms probe only the survivors — so the
    bitmap broadcast is bounded by the range-candidate set.
    Without stats the victim lookup is one semi-join over the full
    table — correct, but O(table scan) per batch, the thing to avoid.
    Accumulated vectors are absorbed by the next rewrite_files /
    compact_snapshot. Float/double prune keys are refused: Spark joins
    treat NaN = NaN as a match while file stats exclude NaN from
    extrema, so a NaN-keyed victim could be missed.

    ``keys`` must uniquely identify non-null source rows (checked on
    the staged batch — a duplicate key would insert duplicate rows).
    Non-rebaseable: the victim positions were computed against THIS
    snapshot, so any concurrent commit raises ConcurrentCommit
    (serializable-merge semantics, the rewrite_files guard). ``txn``:
    exactly-once token (see append) — a re-delivered batch is a no-op,
    even when the retry races its own predecessor's commit.

    Returns (manifest | None if txn-skipped, {"rows_written",
    "rows_tombstoned", "files_scanned", "files_total"}): every source
    row lands (written), every matched target row is tombstoned — a key
    holding N duplicate target rows (appended, not merged, earlier)
    tombstones all N, so the manifest's rows_changed (written -
    tombstoned) can legitimately be negative. files_scanned is the
    victim-lookup scan breadth (== files_total without key_stats)."""
    if not keys:
        raise ValueError("keys must be non-empty")
    base = load_manifest(spark, root)
    if txn is not None and base.get("txns", {}).get(txn[0], -1) >= txn[1]:
        return None, {
            "rows_written": 0, "rows_tombstoned": 0,
            "files_scanned": 0, "files_total": len(base["data_files"]),
        }
    table_schema = StructType.fromJson(json.loads(base["schema"]))
    unknown = sorted(set(keys) - set(table_schema.fieldNames()))
    if unknown:
        raise ValueError(f"merge keys not in table schema: {unknown}")
    prune_col = keys[0]
    if key_stats is not None or key_blooms is not None:
        _refuse_float_prune_key(table_schema, prune_col, "merge")
    source = _enforce_table_schema(base, source, "merge")
    files = _stage_files(spark, root, source, "data")

    fs, _, jvm = _fs(spark, root)

    def _cleanup(paths):
        for f in paths:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f), False)

    # key-uniqueness check on the STAGED batch (one scan of batch-sized
    # data; the source plan is never evaluated twice)
    staged = spark.read.schema(table_schema).parquet(*files) if files else None
    if staged is None:
        return None, {
            "rows_written": 0, "rows_tombstoned": 0,
            "files_scanned": 0, "files_total": len(base["data_files"]),
        }
    import functools
    import operator as _op

    null_any = functools.reduce(
        _op.or_, [F.col(k).isNull() for k in keys]
    ).cast("int")
    chk = staged.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(*[F.col(k) for k in keys]).alias("d"),
        F.coalesce(F.sum(null_any), F.lit(0)).alias("nulls"),
    ).first()
    if chk["n"] == 0:
        _cleanup(files)
        return None, {
            "rows_written": 0, "rows_tombstoned": 0,
            "files_scanned": 0, "files_total": len(base["data_files"]),
        }
    if chk["nulls"] or chk["d"] != chk["n"]:
        _cleanup(files)
        raise ValueError(
            f"merge source must have unique non-null {keys}: {chk['n']} "
            f"rows, {chk['d']} distinct keys, {chk['nulls']} null-keyed"
        )

    # victim lookup breadth: all live files, or only the ones whose
    # [min, max] of the prune key can contain a batch key
    live = base["data_files"]
    scan_files = _pruned_victim_files(
        live, staged, prune_col, key_stats, key_blooms
    )

    # victims: current-snapshot rows (existing vectors applied) whose key
    # appears in the batch — recorded as positional delete vectors.
    # Vector rows for pruned-away files are anti-join no-ops, so the
    # sub-manifest read stays exact.
    victims = (
        _read_with_pos(spark, dict(base, data_files=scan_files))
        .join(staged.select(*keys), on=keys, how="left_semi")
        .select(F.col(_DV_FILE), F.col(_DV_POS))
    )
    # natural partitioning, like delete_where: no single-task stage
    dv_files = _stage_files(spark, root, victims, "deletes")
    n_upd = (
        spark.read.schema(_DV_SCHEMA).parquet(*dv_files).count()
        if dv_files
        else 0
    )
    if n_upd == 0 and dv_files:
        _cleanup(dv_files)
        dv_files = []

    def build(parent, version):
        txns = dict(parent.get("txns", {}))
        if txn is not None:
            # token check BEFORE the version pin: a re-delivered merge
            # racing its own predecessor must take the skip path, not
            # surface the races's ConcurrentCommit
            if txns.get(txn[0], -1) >= txn[1]:
                raise _AlreadyApplied()
            txns[txn[0]] = txn[1]
        if parent["version"] != base["version"]:
            raise ConcurrentCommit(
                f"snapshot advanced past v{base['version']} while merging "
                f"into {root} — re-run against the new state"
            )
        return _manifest(
            version,
            "merge",
            parent["schema"],
            parent["data_files"] + files,
            parent["delete_files"] + dv_files,
            int(chk["n"]) - n_upd,
            txns=txns,
            column_history=_history_of(parent),
        )

    try:
        m = _commit(spark, root, build, rebase=False)
    except _AlreadyApplied:
        _cleanup(files + dv_files)
        return None, {
            "rows_written": 0, "rows_tombstoned": 0,
            "files_scanned": 0, "files_total": len(base["data_files"]),
        }
    except ConcurrentCommit:
        _cleanup(files + dv_files)
        raise
    return m, {
        "rows_written": int(chk["n"]),
        "rows_tombstoned": n_upd,
        "files_scanned": len(scan_files),
        "files_total": len(live),
    }


def compact_snapshot(
    spark: SparkSession,
    root: str,
    small_bytes: int = 64 << 20,
    target_bytes: int = 512 << 20,
    order_col: str | None = None,
) -> dict:
    """Selective small-file compaction under the commit log: bin-pack
    LIVE data files smaller than ``small_bytes`` into ~``target_bytes``
    groups, rewrite ONLY those (existing delete vectors applied — the
    new files' row positions differ, so stale vectors must never get a
    chance to resurrect or mis-kill rows), and commit
    ``data_files = (live - compacted) + merged``. Delete-vector FILES
    are carried unchanged: vector rows naming compacted-away files
    become anti-join no-ops (vector GC stays :func:`rewrite_files`' job,
    which this deliberately is not — a full rewrite per maintenance pass
    is O(table); this is O(small-file bytes)).

    The maintenance companion to streaming ingest
    (streaming/snapshot_sink.py writes one small file set per batch) and
    to frequent :func:`merge_into` batches. No logical row change — the
    commit is invisible to :func:`read_changes`, like rewrite.
    Non-rebaseable (rewrite_files guard). ``order_col``: sort each
    merged file on this column (AFTER the coalesce — concatenated sorted
    runs are not sorted) so a clustered layout keeps its per-file
    sortedness, which is what write-side stats pruning feeds on. Bins
    are packed in manifest order, not curve order: a merged file's
    range is the union of its members' ranges, so re-cluster with
    :func:`rewrite_files` (``order_col``) when ranges have drifted wide.
    Returns
    {"files_compacted", "files_written", "version"} — version unchanged
    and no commit when fewer than two live files qualify."""
    if target_bytes < small_bytes:
        raise ValueError("target_bytes must be >= small_bytes")
    m = load_manifest(spark, root)
    sizes = {p: b for p, b, _ in _list_dir(spark, f"{root.rstrip('/')}/data")}
    gone = [f for f in m["data_files"] if f not in sizes]
    if gone:
        raise ValueError(
            f"manifest v{m['version']} references missing data files "
            f"(corrupt table or foreign GC): {gone[:3]}"
        )
    smalls = [f for f in m["data_files"] if sizes[f] < small_bytes]
    if len(smalls) < 2:
        return {"files_compacted": 0, "files_written": 0, "version": m["version"]}
    # greedy bins in manifest (path-sorted ~ commit) order; every bin has
    # >= 2 files because each member is < small_bytes <= target_bytes
    bins: list[list[str]] = []
    cur: list[str] = []
    acc = 0
    for f in smalls:
        cur.append(f)
        acc += sizes[f]
        if acc >= target_bytes:
            bins.append(cur)
            cur, acc = [], 0
    if len(cur) >= 2:
        bins.append(cur)
    elif cur and bins:
        bins[-1].extend(cur)
    if not bins:
        return {"files_compacted": 0, "files_written": 0, "version": m["version"]}
    compacted = [f for b in bins for f in b]
    new_files: list[str] = []
    for b in bins:
        # sub-manifest trick: same schema + ALL delete vectors, only this
        # bin's files — vectors for other files are anti-join no-ops
        df = (
            _read_with_pos(spark, dict(m, data_files=b))
            .drop(_DV_FILE, _DV_POS)
            .coalesce(1)
        )
        if order_col is not None:
            df = df.sortWithinPartitions(order_col)
        new_files += _stage_files(spark, root, df, "data")

    def build(parent, version):
        if parent is None or parent["version"] != m["version"]:
            raise ConcurrentCommit(
                f"snapshot advanced past v{m['version']} while compacting "
                f"{root} — re-run against the new state"
            )
        data = sorted(set(parent["data_files"]) - set(compacted)) + new_files
        return _manifest(
            version,
            "compact",
            parent["schema"],
            data,
            parent["delete_files"],
            None,
            txns=parent.get("txns", {}),
            column_history=_history_of(parent),
        )

    try:
        committed = _commit(spark, root, build, rebase=False)
    except ConcurrentCommit:
        fs, _, jvm = _fs(spark, root)
        for f in new_files:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f), False)
        raise
    return {
        "files_compacted": len(compacted),
        "files_written": len(new_files),
        "version": committed["version"],
    }


def rollback(spark: SparkSession, root: str, version: int) -> dict:
    """Commit a NEW version re-pointing at ``version``'s exact file
    lists (history stays append-only; the bad commits remain inspectable
    until expired). Requires the target manifest to still exist."""
    target = load_manifest(spark, root, version)
    base = latest_version(spark, root)

    def build(parent, new_version):
        # same stale-base guard as rewrite_files: "roll back to v" is a
        # decision made against a specific latest — if another commit
        # lands first, re-pointing would silently discard it
        if parent is None or parent["version"] != base:
            raise ConcurrentCommit(
                f"snapshot advanced past v{base} while rolling back {root} "
                "— re-run against the new state"
            )
        return dict(
            _manifest(
                new_version,
                "rollback",
                target["schema"],
                target["data_files"],
                target["delete_files"],
                None,
                # carry the LATEST txn map, not the target's: the rolled-
                # over batches WERE processed once; reviving their tokens
                # would let a late producer retry silently re-append them
                txns=parent.get("txns", {}),
                column_history=_history_of(parent),
            ),
            source_version=version,
        )

    return _commit(spark, root, build, rebase=False)


def add_columns(
    spark: SparkSession, root: str, fields: list[StructField]
) -> dict:
    """Metadata-only schema evolution: commit a new version whose schema
    gains ``fields`` at the end. No data file is touched — readers
    reconcile name-based (explicit-schema scan in :func:`_read_with_pos`),
    so rows written before the evolution come back NULL in the new
    columns and the NEXT :func:`rewrite_files` materializes them
    physically. Appends after the commit must supply the new columns
    (the existing exact-schema enforcement).

    Constraints of a NAME-based format (no Iceberg field ids — the
    documented tradeoff):

    - new fields must be nullable (old files have no values to supply);
    - a name ever used by this table (``column_history``, carried
      through every commit) cannot be re-added: a live file physically
      holding the dropped column would silently resurrect its old
      values — or poison every multi-file read, if the type changed;
    - renames and type changes are not supported (rename = drop + add
      under a fresh name; type change = rewrite through a cast).

    Rebaseable: the new schema is recomputed from the fresh parent on
    every attempt, so a concurrent append simply orders before it."""
    if not fields:
        raise ValueError("fields must be non-empty")
    for f in fields:
        if not isinstance(f, StructField):
            raise TypeError(f"expected StructField, got {type(f).__name__}")
        if not f.nullable:
            raise ValueError(
                f"added column {f.name!r} must be nullable: rows committed "
                "before the evolution have no value to supply"
            )
        if f.name in _RESERVED:
            raise ValueError(f"column name {f.name!r} is reserved")
    names = [f.name for f in fields]
    if len({n.lower() for n in names}) != len(names):
        raise ValueError(f"duplicate names in added fields: {names}")

    def build(parent, version):
        schema = StructType.fromJson(json.loads(parent["schema"]))
        used = set(_history_of(parent)) | {f.name for f in schema.fields}
        # case-insensitive: Spark resolves column names case-insensitively
        # by default, so 'V' next to a burned 'v' is just as ambiguous
        lower_used = {u.lower() for u in used}
        clash = sorted(n for n in names if n.lower() in lower_used)
        if clash:
            raise ValueError(
                f"column names {clash} were already used by this table — "
                "name-based evolution cannot re-add a column (pick a fresh "
                "name, or rewrite_files + expire history under a new table)"
            )
        new_schema = StructType(list(schema.fields) + list(fields))
        return _manifest(
            version,
            "evolve",
            new_schema.json(),
            parent["data_files"],
            parent["delete_files"],
            None,
            txns=parent.get("txns", {}),
            column_history=sorted(used | set(names)),
        )

    return _commit(spark, root, build, rebase=True)


def drop_columns(spark: SparkSession, root: str, names: list[str]) -> dict:
    """Metadata-only column drop: commit a new version whose schema no
    longer lists ``names``. Data files are untouched — readers project
    the column away (explicit-schema scan); time travel to an earlier
    version still sees it; the name stays burned in ``column_history``
    (see :func:`add_columns`). Rebaseable."""
    if not names:
        raise ValueError("names must be non-empty")

    def build(parent, version):
        schema = StructType.fromJson(json.loads(parent["schema"]))
        have = {f.name for f in schema.fields}
        missing = sorted(set(names) - have)
        if missing:
            raise ValueError(f"cannot drop missing columns: {missing}")
        kept = [f for f in schema.fields if f.name not in set(names)]
        if not kept:
            raise ValueError("cannot drop every column of the table")
        return _manifest(
            version,
            "evolve",
            StructType(kept).json(),
            parent["data_files"],
            parent["delete_files"],
            None,
            txns=parent.get("txns", {}),
            column_history=_history_of(parent),
        )

    return _commit(spark, root, build, rebase=True)


def read_changes(
    spark: SparkSession,
    root: str,
    since_version: int,
    until_version: int | None = None,
) -> DataFrame:
    """Incremental change feed: every row-level change committed AFTER
    ``since_version`` up to and including ``until_version`` (default
    latest), as the table's columns (rendered in the UNTIL version's
    schema, missing-then columns NULL) plus ``_change_type``
    ('insert' | 'delete') and ``_commit_version``.

    This is the incremental-consumption path: a downstream job that
    processed version N reads only the DELTA files committed since —
    O(changed bytes), never a table scan. Per commit:

    - ``create`` / ``append``: the commit's new data files -> inserts;
    - ``delete``: the commit's new delete vectors, inner-joined back to
      the files they name -> the deleted rows (reads only named files;
      vectors can never re-name an already-deleted row because
      delete_where evaluates on the vectors-applied snapshot);
    - ``merge``: its new vectors -> deletes (the matched rows' old
      values), its new data files -> inserts — replayed in that order a
      consumer nets the upsert;
    - ``rewrite`` / ``evolve`` / ``compact``: no row-level change —
      skipped;
    - ``overwrite`` / ``rollback``: NOT row-incremental (the commit
      redefines content wholesale) — raises ValueError, read full
      snapshots instead. Same refusal Iceberg's incremental scan makes
      for replace commits.

    Consuming a change feed across an expired range raises
    NoSuchVersion (the evidence is gone); expire policy must retain at
    least the versions between checkpoints of incremental consumers.

    An insert later deleted INSIDE the range yields both rows (standard
    CDC semantics — the consumer replays history in commit order)."""
    latest = latest_version(spark, root)
    if latest is None:
        raise NoSuchVersion(f"no committed snapshot at {root}")
    until = latest if until_version is None else until_version
    if not 0 <= since_version <= until <= latest:
        raise ValueError(
            f"need 0 <= since ({since_version}) <= until ({until}) <= "
            f"latest ({latest})"
        )
    m_until = load_manifest(spark, root, until)
    out_schema = StructType.fromJson(json.loads(m_until["schema"]))
    out_cols = out_schema.fieldNames()

    def piece(files: list[str], kind: str, version: int) -> DataFrame:
        df = spark.read.schema(out_schema).parquet(*files)
        return df.select(
            *out_cols,
            F.lit(kind).alias(_CDC_TYPE),
            F.lit(version).cast("int").alias(_CDC_VERSION),
        )

    from geocore_spark.sources.stats import decode_file_url

    def delete_piece(new_dv: list[str], version: int) -> DataFrame:
        dv = spark.read.schema(_DV_SCHEMA).parquet(*new_dv)
        named = sorted(
            {
                decode_file_url(r[_DV_FILE])
                for r in dv.select(_DV_FILE).distinct().collect()
            }
        )
        rows = spark.read.schema(out_schema).parquet(*named).select(
            "*",
            F.col("_metadata.file_path").alias(_DV_FILE),
            F.col("_metadata.row_index").alias(_DV_POS),
        )
        got = rows.join(F.broadcast(dv), on=[_DV_FILE, _DV_POS], how="inner")
        return got.select(
            *out_cols,
            F.lit("delete").alias(_CDC_TYPE),
            F.lit(version).cast("int").alias(_CDC_VERSION),
        )

    pieces: list[DataFrame] = []
    prev = (
        load_manifest(spark, root, since_version) if since_version >= 1 else None
    )
    for v in range(since_version + 1, until + 1):
        m = load_manifest(spark, root, v)
        op = m["operation"]
        if op in ("overwrite", "rollback"):
            raise ValueError(
                f"v{v} is a {op!r} commit — not row-incremental; read the "
                "full snapshot instead (Iceberg-style incremental-scan "
                "refusal)"
            )
        if op in ("create", "append", "merge"):
            # a merge commit is deletes-then-inserts: the tombstoned
            # matched rows, then every source row — replaying in that
            # order nets the update (standard CDC upsert rendering)
            if op == "merge":
                new_dv = sorted(
                    set(m["delete_files"]) - set(prev["delete_files"] if prev else [])
                )
                if new_dv:
                    pieces.append(delete_piece(new_dv, v))
            new = sorted(
                set(m["data_files"]) - set(prev["data_files"] if prev else [])
            )
            if new:
                pieces.append(piece(new, "insert", v))
        elif op == "delete":
            new_dv = sorted(
                set(m["delete_files"]) - set(prev["delete_files"] if prev else [])
            )
            if new_dv:
                pieces.append(delete_piece(new_dv, v))
        elif op not in ("rewrite", "evolve", "compact"):
            raise ValueError(f"unknown commit operation {op!r} at v{v}")
        prev = m
    if not pieces:
        empty = StructType(
            list(out_schema.fields)
            + [
                StructField(_CDC_TYPE, StringType(), False),
                StructField(_CDC_VERSION, IntegerType(), False),
            ]
        )
        return spark.createDataFrame([], empty)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def expire_snapshots(
    spark: SparkSession,
    root: str,
    keep_last: int = 2,
    gc_orphans: bool = False,
    orphan_grace_sec: int = 86400,
) -> dict:
    """Drop all but the last ``keep_last`` manifests and delete data /
    delete files no retained manifest references. Time travel to an
    expired version raises NoSuchVersion afterwards.

    ``gc_orphans``: also remove files referenced by NO manifest at all
    (crash debris from aborted commits) — but only when older than
    ``orphan_grace_sec``, because an in-flight commit's files are
    indistinguishable from debris until its manifest lands. Default off;
    run with the grace window in maintenance jobs, grace 0 only in tests.
    """
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = _log_versions(spark, root)
    if not versions:
        raise NoSuchVersion(f"no committed snapshot at {root}")
    keep = set(versions[-keep_last:])
    retained_refs: set[str] = set()
    expired_refs: set[str] = set()
    for v in versions:
        m = load_manifest(spark, root, v)
        refs = set(m["data_files"]) | set(m["delete_files"])
        if v in keep:
            retained_refs |= refs
        else:
            expired_refs |= refs

    fs, _, jvm = _fs(spark, root)
    removed_files = 0
    now_ms = int(time.time() * 1000)
    for kind in ("data", "deletes"):
        for path, _, mtime in _list_dir(spark, f"{root.rstrip('/')}/{kind}"):
            if path in retained_refs:
                continue
            if path in expired_refs or (
                gc_orphans and now_ms - mtime >= orphan_grace_sec * 1000
            ):
                fs.delete(jvm.org.apache.hadoop.fs.Path(path), False)
                removed_files += 1
    removed_manifests = 0
    for v in versions:
        if v not in keep:
            fs.delete(jvm.org.apache.hadoop.fs.Path(_manifest_path(root, v)), False)
            removed_manifests += 1
    if gc_orphans:
        staging = jvm.org.apache.hadoop.fs.Path(f"{root.rstrip('/')}/_staging")
        if fs.exists(staging):
            for st in fs.listStatus(staging):
                if now_ms - int(st.getModificationTime()) >= orphan_grace_sec * 1000:
                    fs.delete(st.getPath(), True)
    return {"removed_manifests": removed_manifests, "removed_files": removed_files}


def snapshot_file_stats(
    spark: SparkSession, root: str, cols: list[str], version: int | None = None
) -> "DataFrame":
    """sources/stats.file_stats over exactly a snapshot's LIVE data files
    — building stats on the directory would also profile expired files
    and commit debris. Deletes are MoR, so stats stay conservative: a
    file whose matching rows are all tombstoned is still read and the
    vectors drop its rows (pruning bounds I/O, the read owns
    correctness, same contract as sources/stats.py)."""
    from geocore_spark.sources import stats as st

    m = load_manifest(spark, root, version)
    if not m["data_files"]:
        raise ValueError("snapshot has no data files to profile")
    return st.file_stats(spark, m["data_files"], cols)


def snapshot_file_blooms(
    spark: SparkSession,
    root: str,
    cols: list[str],
    version: int | None = None,
    **kw,
) -> "DataFrame":
    """sources/stats.file_blooms over exactly a snapshot's LIVE data
    files — the point-lookup complement to :func:`snapshot_file_stats`
    (min/max ranges can't prune equality probes on an unclustered key;
    a per-file Bloom can). Same conservatism story: MoR-deleted rows
    still set bits, so a probe for a fully-tombstoned key keeps its
    file and the vectors drop the rows — sound, never wrong."""
    from geocore_spark.sources import stats as st

    m = load_manifest(spark, root, version)
    if not m["data_files"]:
        raise ValueError("snapshot has no data files to profile")
    return st.file_blooms(spark, m["data_files"], cols, **kw)


def read_snapshot_pruned(
    spark: SparkSession,
    root: str,
    stats: DataFrame,
    ranges: dict[str, tuple],
    version: int | None = None,
):
    """Stats-pruned snapshot read: plan only the live files whose
    [min, max] intersect ``ranges``, then apply the version's delete
    vectors (vector rows for pruned-away files are anti-join no-ops).
    Returns (DataFrame, PruneReport); the caller still applies the real
    predicate. The manifest+stats pair is the full Iceberg-style planning
    path: no directory listing, no data-file footer reads, bounded
    driver state. ``stats`` must cover every live file of the version
    being read (build with :func:`snapshot_file_stats` after commits) —
    a stale manifest raises instead of silently skipping unprofiled
    files or reading expired ones. One collect of ``stats`` serves the
    coverage check (stats._check_covers), the prune and the report; the
    kept files are read by :func:`_read_with_pos`, like every other
    snapshot read."""
    from geocore_spark.sources import stats as st

    m = load_manifest(spark, root, version)
    live = sorted(m["data_files"])
    # one collect of the stats frame serves the coverage check, the
    # prune and the report
    rows = st._range_keep_rows(stats, ranges)
    st._check_covers(spark, rows, live, "stats manifest", "snapshot_file_stats")
    # files expired since profiling are dropped
    kept_set = {f for f, _, keep in rows if keep} & set(live)
    kept = sorted(kept_set)
    rep = st.PruneReport(
        files_total=len(live),
        files_read=len(kept),
        rows_possible=sum(n for f, n, _ in rows if f in kept_set),
    )
    # vector rows for pruned-away files are anti-join no-ops
    df = _read_with_pos(spark, dict(m, data_files=kept))
    return df.drop(_DV_FILE, _DV_POS), rep


def _history_of(parent: dict) -> list[str]:
    """Every column name EVER part of the table along this commit chain
    (manifests from before the field existed contribute their schema)."""
    got = parent.get("column_history")
    if got:
        return got
    return sorted(
        f.name for f in StructType.fromJson(json.loads(parent["schema"])).fields
    )


def _manifest(
    version: int,
    operation: str,
    schema_json: str,
    data_files: list[str],
    delete_files: list[str],
    rows_changed: int | None,
    txns: dict | None = None,
    column_history: list[str] | None = None,
) -> dict:
    return {
        "version": version,
        "operation": operation,
        "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "schema": schema_json,
        "data_files": sorted(data_files),
        "delete_files": sorted(delete_files),
        "rows_changed": rows_changed,
        # idempotence tokens: highest committed batch per producer app.
        # EVERY commit type carries the map forward — dropping it on a
        # delete/rewrite would let a late producer retry double-append.
        "txns": txns or {},
        # every column name ever used, carried through every commit:
        # add_columns refuses re-use because this table format is
        # NAME-based (no Iceberg field ids) — a live file physically
        # holding a dropped column would resurrect its old values (or
        # poison reads, if the type changed) under a re-added name.
        "column_history": sorted(
            set(column_history or [])
            | {
                f.name
                for f in StructType.fromJson(json.loads(schema_json)).fields
            }
        ),
    }
