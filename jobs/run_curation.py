"""End-to-end training-data curation pipeline as a spark-submit job — the
webtext twin of jobs/run_pipeline.py, chaining the LLM-pipeline operator
set under the same checkpoint/lineage machinery:

    zip -r engine.zip geocore_spark
    spark-submit --py-files engine.zip jobs/run_curation.py \
        --docs 200000 --checkpoint-root /tmp/geocore_curation [--resume]

Stages (each a checkpointed snapshot; --resume skips committed stages):

  1. corpus      : synthesize the documents table (deterministic generator)
  2. scrub       : PII redaction + quality / language / token signals
  3. dedup       : exact dedup, then MinHash-LSH near-dup pair removal
  3b. spanscrub  : optional (--span-scrub-w N) ExactSubstr boilerplate
                   removal — every N-token span shared verbatim by >= 2
                   docs is cut from all docs (doc count unchanged, token
                   count shrinks; signals recomputed post-scrub)
  4. decontam    : drop docs sharing n-grams with the held-out benchmark
  4b. lmfilter   : optional (--lm-filter-quantile q) CCNet-style pass —
                   self-trained bigram-LM xent, drop docs above the
                   corpus q-quantile (threshold via a KLL sketch, no
                   driver-side percentile collect)
  4c. dsir       : optional (--dsir-frac f) DSIR importance selection —
                   the top-2%-by-quality slice seeds the target unigram
                   LM; the rest of the corpus is scored by target/raw
                   log-likelihood ratio and only the top f fraction (plus
                   the seed itself) continues downstream
  4d. clsfilter  : optional (--classifier-filter) fastText-style gate —
                   bootstrap labels from the heuristic quality signal
                   (top/bottom-20% KLL slices), fit the linear model on a
                   bounded sample driver-side, apply distributed and keep
                   label=1 docs (every doc is scorable: empty text scores
                   the bias, so nothing vanishes silently)
  5. mix         : stratified source rates + deterministic train/eval split
  6. chunks      : overlapping passage chunking
  7. pack        : FFD sequence packing to the token budget

Every stage records its output row count (observed on the stage's own
checkpoint write), wall seconds and resume flag in
<checkpoint-root>/metrics.json. The final JSON line reports
doc/chunk/pack counts and packing utilization.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from geocore_spark.functions import cleaning as cl, text as tx
from geocore_spark.operators import classify, decontam, dedup, lm, packing, sampling, selection
from geocore_spark.operators import sketches as sk
from geocore_spark.plans.checkpoint import StageCheckpoint
from geocore_spark.plans.lineage import LineageLog
from geocore_spark.session import get_spark
from geocore_spark.sources import documents as docsrc


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=200_000)
    ap.add_argument("--checkpoint-root", default="/tmp/geocore_curation")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--budget", type=int, default=512, help="pack token budget")
    ap.add_argument("--chunk-size", type=int, default=64)
    ap.add_argument("--chunk-stride", type=int, default=48)
    ap.add_argument("--ngram", type=int, default=8, help="decontamination n")
    ap.add_argument(
        "--lm-filter-quantile",
        type=float,
        default=None,
        help="optional CCNet-style LM filter: drop docs whose bigram-LM "
        "cross-entropy exceeds this corpus quantile (e.g. 0.9); off by "
        "default so the pinned 7-stage shape is unchanged",
    )
    ap.add_argument(
        "--span-scrub-w",
        type=int,
        default=None,
        help="add the spanscrub stage: remove EVERY w-token span shared "
        "verbatim by >= 2 docs (ExactSubstr aggressive boilerplate "
        "removal; doc count unchanged, tokens shrink); off by default "
        "so the pinned 7-stage shape is unchanged",
    )
    ap.add_argument(
        "--fail-after",
        default=None,
        help=argparse.SUPPRESS,  # fault injection for resume tests: exit(3)
        # right after the named stage commits, simulating a mid-pipeline crash
    )
    ap.add_argument(
        "--classifier-filter",
        action="store_true",
        help="add the clsfilter stage: quality-bootstrapped linear "
        "classifier gate; off by default so the pinned 7-stage shape "
        "is unchanged",
    )
    ap.add_argument(
        "--dsir-frac",
        type=float,
        default=None,
        help="optional DSIR selection: keep this fraction of the corpus "
        "by target/raw unigram log-likelihood ratio, seeded by the "
        "top-2%%-quality slice; off by default so the pinned 7-stage "
        "shape is unchanged",
    )
    args = ap.parse_args(argv)

    spark = get_spark("geocore-curation")
    cp = StageCheckpoint(spark, args.checkpoint_root)
    if not args.resume:
        for stage in list(cp.stages()):
            cp.invalidate(stage)

    # the configured stage chain WITH parameters — recorded in the
    # manifest so --resume invalidates from the first stage whose name or
    # params differ from the committed chain (a re-parameterized optional
    # stage, or one disabled since the snapshot, would otherwise silently
    # resume downstream snapshots built under the old chain)
    configured_chain: list[tuple[str, dict]] = [
        ("corpus", {"docs": args.docs}),
        ("scrub", {}),
        ("dedup", {}),
    ]
    if args.span_scrub_w is not None:
        configured_chain.append(("spanscrub", {"w": args.span_scrub_w}))
    configured_chain.append(("decontam", {"ngram": args.ngram}))
    if args.lm_filter_quantile is not None:
        configured_chain.append(("lmfilter", {"q": args.lm_filter_quantile}))
    if args.dsir_frac is not None:
        configured_chain.append(("dsir", {"frac": args.dsir_frac}))
    if args.classifier_filter:
        configured_chain.append(("clsfilter", {}))
    configured_chain += [
        ("mix", {}),
        ("chunks", {"size": args.chunk_size, "stride": args.chunk_stride}),
        ("pack", {"budget": args.budget}),
    ]
    stale = cp.reconcile_chain(configured_chain)
    if stale:
        print(f"[resume] chain diverged; invalidated: {' '.join(stale)}", flush=True)

    log = LineageLog()
    t_start = time.time()

    # cascade-invalidation resume: once any stage in the chain REBUILDS
    # (crash recovery, or a newly-enabled optional stage like
    # --span-scrub-w on an old checkpoint root), every LATER stage's
    # snapshot is stale by definition — drop it so downstream rebuilds on
    # the new upstream data instead of silently resuming pre-change
    # snapshots. A fully-resumed run (nothing rebuilt) is untouched.
    upstream_rebuilt = False

    def staged(name, build):
        nonlocal upstream_rebuilt
        t0 = time.time()
        if upstream_rebuilt and cp.is_done(name):
            cp.invalidate(name)
        was_done = cp.is_done(name)
        df = cp.run(name, build)
        if not was_done:
            upstream_rebuilt = True
        rows = cp.stages()[name]["rows"]
        log.record(
            name, rows=rows, seconds=round(time.time() - t0, 2), resumed=was_done
        )
        print(f"[stage {name}] rows={rows} resumed={was_done}", flush=True)
        if args.fail_after == name:
            print(f"[fault-injection] exiting after stage {name}", flush=True)
            spark.stop()
            sys.exit(3)
        return df

    def build_corpus():
        d = docsrc.documents(spark, args.docs)
        # source = a deterministic shard label (plays the crawl-dump id)
        return d.withColumn(
            "source", F.concat(F.lit("dump"), (F.col("doc_id") % 8).cast("string"))
        )

    corpus = staged("corpus", build_corpus)

    def with_signals(d):
        # the ONE place the text-derived signal columns are defined; every
        # stage that mutates `text` re-derives through this helper so the
        # stored signals always describe the stored text
        return d.select(
            "doc_id",
            "source",
            "text",
            tx.lang_guess(F.col("text")).alias("lang"),
            tx.quality_score(F.col("text")).alias("quality"),
            tx.token_count(F.col("text")).alias("n_tokens"),
        )

    def build_scrub():
        # scrub FIRST, then derive signals from the scrubbed column — in a
        # single select the signal exprs would resolve 'text' to the
        # pre-scrub input and disagree with the stored text
        return with_signals(
            corpus.select(
                "doc_id", "source", cl.scrub_pii(F.col("text")).alias("text")
            )
        )

    scrubbed = staged("scrub", build_scrub)

    def build_dedup():
        kept = dedup.exact_dedup(scrubbed, id_col="doc_id", text_col="text")
        # chain pairing: O(m) pairs per LSH bucket — the viral-cluster-safe
        # mode. With a threshold this is a best-effort approximation of
        # all-pairs removal (a below-threshold doc between two near-dups
        # can break a chain link; ~0.875 pair recall on the eval corpus);
        # exact-duplicate chains always collapse fully.
        pairs = dedup.minhash_lsh_pairs(
            kept.select("doc_id", "text"),
            n_perm=64,
            bands=16,
            threshold=0.8,
            pairing="chain",
        )
        losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
        return kept.join(losers, "doc_id", "left_anti")

    deduped = staged("dedup", build_dedup)

    if args.span_scrub_w is not None:

        span_cache: dict = {}

        def build_spanscrub():
            w = args.span_scrub_w
            spans = dedup.duplicate_spans(
                deduped.select("doc_id", "text"), w=w, spans=True,
                cache=span_cache,
            )
            out = dedup.scrub_spans(deduped, spans, w=w)
            # text changed -> the derived signal columns are stale for
            # scrubbed docs; re-derive through the shared helper so
            # downstream quality gates see the post-scrub document
            return with_signals(out)

        deduped = staged("spanscrub", build_spanscrub)
        # the stage snapshot is committed — release the input-sized token
        # cache duplicate_spans persisted (long-lived contexts would
        # otherwise accumulate one per invocation)
        if "tokens" in span_cache:
            span_cache["tokens"].unpersist()

    def build_decontam():
        bench = deduped.filter(F.col("doc_id") % 1013 == 0)
        pool = deduped.filter(F.col("doc_id") % 1013 != 0)
        dirty = decontam.decontaminate(pool, bench, n=args.ngram, hashed=True)
        return pool.join(dirty.select("doc_id"), "doc_id", "left_anti")

    clean = staged("decontam", build_decontam)

    if args.lm_filter_quantile is not None:
        q = args.lm_filter_quantile
        qcol = f"q_{str(q).replace('.', '_')}"
        lm_cache = {}

        def build_lmfilter():
            c12, c1 = lm.train_bigram_lm(clean)
            # persisted: consumed by the threshold aggregate AND the
            # loser filter — without it the bigram joins run twice
            scored = lm.score_docs(clean, c12, c1).persist()
            lm_cache["scored"] = scored
            # KLL threshold: rank-error-bounded, not bit-reproducible
            # between runs (sketch sampling) — fine for a quality gate;
            # the stage snapshot freezes whichever cut this run made
            thr = sk.quantile_estimates(
                sk.sketch_quantiles(scored, "xent"), [q]
            ).select(F.col(qcol).alias("__thr"))
            losers = (
                scored.crossJoin(F.broadcast(thr))
                .filter(F.col("xent") > F.col("__thr"))
                .select("doc_id")
            )
            # anti-join the losers so docs with < 2 tokens (unscorable,
            # absent from `scored`) pass through instead of vanishing
            return clean.join(losers, "doc_id", "left_anti")

        clean = staged("lmfilter", build_lmfilter)
        if "scored" in lm_cache:
            lm_cache["scored"].unpersist()

    if args.dsir_frac is not None:

        def build_dsir():
            # seed target = top 2% by the heuristic quality signal (KLL
            # threshold, no driver percentile); DSIR then expands that
            # seed distribution over the remaining corpus — the published
            # bootstrap when no external target corpus exists
            thr = sk.quantile_estimates(
                sk.sketch_quantiles(clean, "quality"), [0.98]
            ).select(F.col("q_0_98").alias("__thr"))
            flagged = clean.crossJoin(F.broadcast(thr))
            target = flagged.filter(F.col("quality") >= F.col("__thr")).drop(
                "__thr"
            )
            raw = flagged.filter(F.col("quality") < F.col("__thr")).drop(
                "__thr"
            )
            picked = selection.dsir_select(raw, target, frac=args.dsir_frac)
            # token-less docs are unscorable (absent from the weight
            # frame) — pass them through instead of silently dropping,
            # the same invariant the lmfilter stage keeps; coalesce: null
            # text yields NULL n_tokens, which `== 0` would silently drop
            unscorable = raw.filter(
                F.coalesce(F.col("n_tokens"), F.lit(0)) == 0
            )
            keep_ids = (
                picked.select("doc_id")
                .unionByName(target.select("doc_id"))
                .unionByName(unscorable.select("doc_id"))
            )
            return clean.join(keep_ids, "doc_id", "left_semi")

        clean = staged("dsir", build_dsir)

    if args.classifier_filter:

        def build_clsfilter():
            # bootstrap labels from the heuristic quality signal: the
            # top-20% slice is the positive class, the bottom-20% the
            # negative (same no-external-labels bootstrap as the dsir
            # stage); the middle 60% is what the model actually decides
            qs = sk.quantile_estimates(
                sk.sketch_quantiles(clean, "quality"), [0.2, 0.8]
            ).select(
                F.col("q_0_2").alias("__lo"), F.col("q_0_8").alias("__hi")
            )
            flagged = clean.crossJoin(F.broadcast(qs))
            labeled = flagged.filter(
                (F.col("quality") <= F.col("__lo"))
                | (F.col("quality") >= F.col("__hi"))
            ).select(
                "text",
                (F.col("quality") >= F.col("__hi")).cast("int").alias(
                    "label"
                ),
            )
            weights, bias = classify.fit_linear(
                labeled, vocab_size=256, max_samples=5_000
            )
            keep = (
                classify.classifier_score(clean, weights, bias=bias)
                .filter(F.col("label") == 1)
                .select("doc_id")
            )
            return clean.join(keep, "doc_id", "left_semi")

        clean = staged("clsfilter", build_clsfilter)

    def build_mix():
        mixed = sampling.stratified_sample(
            clean, rates={"dump0": 1.0, "dump1": 0.5}, default_rate=0.8
        )
        return sampling.deterministic_split(mixed, eval_fraction=0.05)

    mixed = staged("mix", build_mix)

    def build_chunks():
        staged_toks = mixed.select("doc_id", "split", cl.tokens(F.col("text")).alias("toks"))
        return staged_toks.select(
            "doc_id",
            "split",
            F.explode(
                cl.chunk_spans(F.col("toks"), args.chunk_size, args.chunk_stride)
            ).alias("ch"),
        ).select(
            "doc_id",
            "split",
            F.col("ch.start").alias("start"),
            tx.token_count(F.col("ch.chunk")).alias("n_tokens"),
        )

    chunks = staged("chunks", build_chunks)

    def build_pack():
        packed = packing.pack_sequences(
            chunks.filter(F.col("split") == "train"), budget=args.budget
        )
        return packing.pack_stats(packed)

    packs = staged("pack", build_pack)

    log.record("total", seconds=round(time.time() - t_start, 2))
    metrics_path = os.path.join(args.checkpoint_root, "metrics.json")
    with open(metrics_path, "w") as f:
        f.write(log.to_json())

    # row counts come from the checkpoint commits — every stage already
    # counted on write, so re-counting here would re-read six snapshots
    # just to recompute known numbers
    rows = {name: meta["rows"] for name, meta in cp.stages().items()}
    util = packs.agg(
        (F.sum("pack_tokens") / (F.count("*") * args.budget)).alias("u")
    ).collect()[0]["u"]
    print(
        json.dumps(
            {
                "docs_in": rows["corpus"],
                "docs_after_dedup": rows["dedup"],
                "docs_after_decontam": rows["decontam"],
                "docs_mixed": rows["mix"],
                "chunks": rows["chunks"],
                "packs": rows["pack"],
                "pack_utilization": round(float(util), 4),
                "metrics": metrics_path,
                "seconds": round(time.time() - t_start, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
