"""Workload ``lake_maintenance``: daily crawl batches merged into a
snapshot table (the ``jobs/run_incremental.py`` shape).

Before timing, ``create_table`` loads a seeded corpus of urls. One
iteration is one crawl day: rebuild the table's Bloom sidecar on
``url``, ``merge_into`` the day's batch (new urls plus recrawls of live
ones) pruned by that sidecar, ``compact_snapshot`` the small files,
erase ``N_ERASE`` recent urls with ``delete_by_key`` (fresh sidecar),
and read the table back (``read_snapshot`` plus an aggregate). Every
day runs every step, so days cost alike. A plain-Python replay of the
same batches and erasures is the independent expectation for every read
and, at the end of the run, for the whole table.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from geocore_spark.sources import snapshots as snap

N_INITIAL = 40_000
N_NEW = 1_000  # brand-new urls per day
N_RECRAWL = 1_000  # live urls crawled again per day
N_HOSTS = 97
RECENT_DAYS = 3  # recrawls and erasures pick urls first seen in the last few days
N_ERASE = 20  # urls in each day's erasure request
SMALL_FILE_BYTES = 16 << 10  # compaction rewrites the per-day files only
TARGET_FILE_BYTES = 64 << 10
SCHEMA = "url string, host string, n_tokens long, crawl_day long"

# per-layer metrics a traced run adds for this workload (see run.py)
LAYER_METRICS = [
    ("sources.snapshots.merge_into", "self_s", "s"),
    ("sources.snapshots.merge_into", "files_scanned_ratio", "ratio"),
    ("sources.snapshots.file_blooms", "self_s", "s"),
    ("sources.snapshots.file_blooms", "task_s", "s"),
    ("sources.snapshots.compact", "self_s", "s"),
    ("sources.snapshots.compact", "bytes_rewritten", "bytes"),
    ("sources.snapshots.delete_by_key", "self_s", "s"),
    ("sources.snapshots.delete_by_key", "files_scanned_ratio", "ratio"),
    ("sources.snapshots.read", "self_s", "s"),
    ("sources.snapshots.read", "write_amp", "ratio"),
    ("sources.snapshots.read", "space_amp", "ratio"),
]


def _size(uri: str) -> int:
    """Bytes of a data file named by its ``file:`` URI."""
    return os.path.getsize(uri[len("file:"):] if uri.startswith("file:") else uri)


class Workload:
    name = "lake_maintenance"
    ITERATION_S = 5.0  # nominal wall of one warm iteration, 4 cores (see run.Loop.run)

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark, self.tr = spark, tracer
        self.rng = np.random.default_rng(seed)
        self.root = os.path.join(work, "lake", "corpus")
        self.next_id = 0
        self.live: dict[str, tuple[str, int, int]] = {}  # url -> (host, tokens, day)
        self.day = 0
        self.user_bytes = 0
        self.stats: dict[str, list[float]] = {"merge": [], "delete": [], "rewritten": []}
        batch = self._batch(N_INITIAL, 0)
        snap.create_table(spark, self.root, self._df(batch), txn=("ingest", 0))
        self.user_bytes += sum(_size(f) for f in snap.load_manifest(spark, self.root)["data_files"])
        self.input_rows = N_NEW + N_RECRAWL
        self.sizes = {
            "initial_urls": N_INITIAL, "new_per_day": N_NEW, "recrawl_per_day": N_RECRAWL,
            "hosts": N_HOSTS, "recent_days": RECENT_DAYS, "erased_per_day": N_ERASE,
        }

    def _batch(self, n_new: int, n_recrawl: int) -> pd.DataFrame:
        """The day's crawl: ``n_new`` unseen urls plus ``n_recrawl`` live
        urls with fresh token counts; applied to the replay model."""
        ids = np.arange(self.next_id, self.next_id + n_new)
        self.next_id += n_new
        urls = [self._url(i) for i in ids]
        if n_recrawl:
            recent = self.rng.choice(
                np.arange(self._recent_start(n_new), self.next_id - n_new), n_recrawl, replace=False
            )
            urls += [u for u in (self._url(i) for i in recent) if u in self.live]
        hosts = [u[len("https://"):].split(".", 1)[0] for u in urls]
        tokens = self.rng.integers(1, 1000, len(urls))
        pdf = pd.DataFrame({
            "url": urls, "host": hosts, "n_tokens": tokens.astype(np.int64),
            "crawl_day": np.full(len(urls), self.day, np.int64),
        })
        for u, h, t in zip(urls, hosts, tokens):
            self.live[u] = (h, int(t), self.day)
        return pdf

    def _recent_start(self, skip: int = 0) -> int:
        """First url id of the last ``RECENT_DAYS`` days, ``skip`` ids back."""
        return max(0, self.next_id - skip - RECENT_DAYS * N_NEW)

    @staticmethod
    def _url(i: int) -> str:
        return f"https://h{i % N_HOSTS}.example/p{i}"

    def _df(self, pdf: pd.DataFrame):
        return self.spark.createDataFrame(pdf, SCHEMA)

    # -- one iteration (one crawl day) ----------------------------------------

    def prepare(self) -> None:
        """The next day's inputs, built before the timer starts."""
        self.day += 1
        self.batch = self._df(self._batch(N_NEW, N_RECRAWL))
        self.files_before = set(snap.load_manifest(self.spark, self.root)["data_files"])
        recent = [self._url(i) for i in range(self._recent_start(), self.next_id)]
        recent = [u for u in recent if u in self.live]
        self.victims = [recent[k] for k in self.rng.choice(len(recent), N_ERASE, replace=False)]
        for u in self.victims:
            del self.live[u]
        self.erase_keys = self.spark.createDataFrame(
            pd.DataFrame({"url": self.victims}), "url string"
        )

    def _blooms(self):
        return self.tr.call(
            "sources.snapshots.file_blooms", snap.snapshot_file_blooms, self.spark, self.root, ["url"]
        ).persist()

    def iterate(self):
        t, spark = self.tr, self.spark
        out = {}
        blooms = self._blooms()
        out["merged"], out["merge"] = t.call(
            "sources.snapshots.merge_into", snap.merge_into,
            spark, self.root, self.batch, ["url"], txn=("ingest", self.day), key_blooms=blooms,
        )
        blooms.unpersist()
        out["compact"] = t.call(
            "sources.snapshots.compact", snap.compact_snapshot, spark, self.root,
            small_bytes=SMALL_FILE_BYTES, target_bytes=TARGET_FILE_BYTES,
        )
        blooms = self._blooms()
        _, out["delete"] = t.call(
            "sources.snapshots.delete_by_key", snap.delete_by_key,
            spark, self.root, self.erase_keys, "url", key_blooms=blooms,
        )
        blooms.unpersist()
        table = t.call("sources.snapshots.read", snap.read_snapshot, spark, self.root)
        out["read"] = table.agg(
            F.count("*").alias("rows"),
            F.sum("n_tokens").alias("tokens"),
            F.sum("crawl_day").alias("days"),
        ).first()
        return out

    # -- output checks -------------------------------------------------------

    def check(self, out, full: bool) -> list[str]:
        if out["merged"] is None:
            return [f"day {self.day}: merge committed nothing"]
        merged_files = set(out["merged"]["data_files"])
        self.user_bytes += sum(_size(f) for f in merged_files - self.files_before)
        st = out["merge"]
        self.stats["merge"].append(st["files_scanned"] / max(st["files_total"], 1))
        now = set(snap.load_manifest(self.spark, self.root)["data_files"])
        self.stats["rewritten"].append(float(sum(_size(f) for f in now - merged_files)))
        bad = []
        st = out["delete"]
        self.stats["delete"].append(st["files_scanned"] / max(st["files_total"], 1))
        if st["rows_deleted"] != len(self.victims):
            bad.append(
                f"day {self.day}: rows_deleted {st['rows_deleted']} != "
                f"{len(self.victims)} erased live urls"
            )
        want = (
            len(self.live),
            sum(v[1] for v in self.live.values()),
            sum(v[2] for v in self.live.values()),
        )
        row = out["read"]
        got = (row["rows"], row["tokens"], row["days"])
        if got != want:
            bad.append(f"day {self.day}: table (rows, tokens, days) {got} != replay {want}")
        return bad

    def final_check(self) -> list[str]:
        """The whole table equals the from-scratch replay; also records
        the table's footprint for the traced counters."""
        m = snap.load_manifest(self.spark, self.root)
        got = snap.read_snapshot(self.spark, self.root).toPandas()
        want = pd.DataFrame(
            [(u, h, t, d) for u, (h, t, d) in self.live.items()],
            columns=["url", "host", "n_tokens", "crawl_day"],
        )
        got = got.sort_values("url").reset_index(drop=True)
        want = want.sort_values("url").reset_index(drop=True).astype(got.dtypes.to_dict())
        on_disk = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(self.root) for f in fs
        )
        file_rows = self.spark.read.parquet(*m["data_files"]).count()
        live_bytes = sum(_size(f) for f in m["data_files"]) * len(got) / max(file_rows, 1)
        self.amp = (on_disk / max(self.user_bytes, 1), on_disk / max(live_bytes, 1.0))
        if not got.equals(want):
            return [f"final table ({len(got)} rows) differs from the replay ({len(want)} rows)"]
        return []

    def counters(self, folded, tracer) -> dict:
        """Scan breadth of the keyed writes, bytes a compaction rewrites,
        and the table's write and space amplification at the end."""

        def mean(xs):
            return float(np.mean(xs)) if xs else 0.0

        return {
            "sources.snapshots.merge_into.files_scanned_ratio": mean(self.stats["merge"]),
            "sources.snapshots.delete_by_key.files_scanned_ratio": mean(self.stats["delete"]),
            "sources.snapshots.compact.bytes_rewritten": mean(self.stats["rewritten"]),
            "sources.snapshots.read.write_amp": self.amp[0],
            "sources.snapshots.read.space_amp": self.amp[1],
        }
