"""ExactSubstr span detect+scrub quality vs planted ground truth.

Plants a fixed 11-token boilerplate sentence into a deterministic 30% of
the sf0.01 documents (position seeded by doc_id), runs
dedup.duplicate_spans(w=6) + dedup.scrub_spans with a keep-the-lowest-id
policy, and scores token-level detection against the known insertions:

- token recall, measured (not assumed): boilerplate words ABSENT from
  the base corpus vocabulary are exact markers — counting them before
  vs after the scrub measures planted-token removal directly, so a
  partial-span removal would show up here even though it also breaks
  the contiguous phrase
- planted share of removals: planted tokens / all tokens removed, valid
  only when marker recall is 1.0 (then the full spans were cut); the
  complement is ORGANIC duplication in the word-soup corpus — real
  shared 6-grams, not errors
- reduction = total token reduction across the corpus

Appends the markdown rows printed at the end to EVAL.md by hand (same
convention as tools/dedup_eval.py).
"""

from __future__ import annotations

import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from geocore_spark.operators import dedup as dd  # noqa: E402
from geocore_spark.session import get_spark  # noqa: E402

BOILER = "subscribe to our newsletter for the latest updates terms apply today"
W = 6


def main() -> None:
    spark = get_spark("span-eval", master="local[8]", shuffle_partitions=8)
    base = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "doc_id", "text"
    )
    # plant into doc_id % 10 in {0,1,2} at a position seeded by doc_id:
    # after token (doc_id % 20), clamped by the tokenizer's own split
    planted = base.withColumn("__toks", F.split(F.lower(F.trim("text")), r"\s+"))
    planted = planted.withColumn(
        "__cut", F.least(F.col("doc_id") % 20, F.size("__toks")).cast("int")
    ).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 < 3,
            F.concat_ws(
                " ",
                F.concat_ws(" ", F.slice("__toks", F.lit(1), F.col("__cut"))),
                F.lit(BOILER),
                F.concat_ws(
                    " ",
                    F.slice(
                        "__toks",
                        F.col("__cut") + 1,
                        F.greatest(F.size("__toks") - F.col("__cut"), F.lit(0)),
                    ),
                ),
            ),
        ).otherwise(F.col("text")),
    ).select("doc_id", F.trim("text").alias("text")).persist()

    n_boiler = len(BOILER.split())
    # marker tokens: boilerplate words that never occur in the BASE
    # corpus — their before/after counts measure planted-token removal
    # exactly (bounded collect: at most |BOILER| distinct tokens)
    from geocore_spark.functions import cleaning

    present = {
        r[0]
        for r in base.select(
            F.explode(cleaning.tokens(F.col("text"))).alias("t")
        )
        .filter(F.col("t").isin(list(set(BOILER.split()))))
        .distinct()
        .collect()
    }
    markers = [t for t in set(BOILER.split()) if t not in present]
    marker_mult = sum(1 for t in BOILER.split() if t in markers)
    assert markers, "boilerplate shares every word with the corpus"

    def marker_count(col):
        # the canonical tokenizer grain — the one duplicate_spans and
        # scrub_spans actually operate on
        return F.size(
            F.filter(cleaning.tokens(col), lambda x: x.isin(markers))
        )

    spans = dd.duplicate_spans(planted, w=W, spans=True).persist()
    # keep policy: the lowest planted doc_id keeps its copy
    keeper = (
        planted.filter(F.col("doc_id") % 10 < 3)
        .agg(F.min("doc_id"))
        .collect()[0][0]
    )
    scrub_list = spans.filter(F.col("doc_id") != keeper)
    scrubbed = dd.scrub_spans(planted, scrub_list, w=W)

    stats = (
        planted.select("doc_id", F.col("text").alias("before"))
        .join(scrubbed.select("doc_id", F.col("text").alias("after")), "doc_id")
        .select(
            "doc_id",
            F.size(F.split("before", r"\s+")).alias("nb"),
            F.size(
                F.filter(F.split("after", r"\s+"), lambda x: x != "")
            ).alias("na"),
            marker_count(F.col("before")).alias("mb"),
            marker_count(F.col("after")).alias("ma"),
            (F.col("doc_id") % 10 < 3).alias("is_planted"),
            F.col("after").contains(BOILER).alias("still_has"),
        )
        .agg(
            F.sum("nb").alias("tok_before"),
            F.sum("na").alias("tok_after"),
            F.sum(
                F.when(F.col("is_planted") & (F.col("doc_id") != keeper), 1)
                .otherwise(0)
            ).alias("n_scrub_targets"),
            F.sum(
                F.when(
                    F.col("is_planted")
                    & (F.col("doc_id") != keeper)
                    & ~F.col("still_has"),
                    1,
                ).otherwise(0)
            ).alias("n_cleaned"),
            F.sum(
                F.when(
                    F.col("is_planted") & (F.col("doc_id") != keeper),
                    F.col("mb") - F.col("ma"),
                ).otherwise(0)
            ).alias("markers_removed"),
            F.sum(F.col("nb") - F.col("na")).alias("removed_total"),
        )
        .collect()[0]
    )
    targets = stats["n_scrub_targets"]
    recall = stats["n_cleaned"] / targets
    # measured per-token recall via corpus-absent marker words
    token_recall = stats["markers_removed"] / (targets * marker_mult)
    # share is only meaningful when the full spans were provably cut
    planted_share = (
        targets * n_boiler / max(stats["removed_total"], 1)
        if token_recall == 1.0
        else float("nan")
    )
    print()
    print("| metric | value |")
    print("|---|---|")
    print(f"| planted docs scrubbed clean | {stats['n_cleaned']}/{targets} |")
    print(f"| boilerplate recall (doc level) | {recall:.4f} |")
    print(
        f"| marker-token recall (measured over {marker_mult} "
        f"corpus-absent marker tokens per plant) | {token_recall:.4f} |"
    )
    print(f"| planted share of removed tokens | {planted_share:.4f} |")
    print(
        f"| corpus token reduction | {stats['tok_before']} -> "
        f"{stats['tok_after']} "
        f"({1 - stats['tok_after'] / stats['tok_before']:.4f}) |"
    )
    print(f"| keeper doc retains its copy | {keeper} |")
    kept_ok = (
        scrubbed.filter(F.col("doc_id") == keeper)
        .filter(F.col("text").contains(BOILER))
        .count()
    )
    print(f"| keeper copy intact | {bool(kept_ok)} |")
    spark.stop()


if __name__ == "__main__":
    main()
