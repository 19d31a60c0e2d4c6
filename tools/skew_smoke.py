#!/usr/bin/env python
"""Skew stress smoke (round-8 verdict #3): time the skew-sensitive
operators on the uniform sf dir and on the `make_skew.py` variant (same
row counts), and report the skew/uniform ratio per query.  A ratio
materially above 1 is the cost of the hot keys; the skew-aware paths
(salted_join, minhash bucket caps, O(log n) components) exist to keep it
bounded.

Queries:
- events_session  per-user session windows (hot user = 10% of rows in one
                  group)
- events_topk     per-day top-k users (pre-agg absorbs the hot user)
- join_shuffle    plain shuffled events x user-dim join, broadcast OFF —
                  the unprotected baseline a hot key caps at 1-task speed
- join_salted     salted_join over the same inputs (the protected path)
- dedup_minhash   MinHash-LSH pairs (hot near-dup cluster = one giant
                  bucket; max_bucket caps bound the blow-up)
- dedup_cc        pairs -> connected components -> canonical keep (the
                  hot cluster is one giant component)
- dedup_digest    exact dedup (one digest carries 5% of docs)
- dedup_srp       SRP-LSH cosine pairs (round 9: one hot embedding
                  cluster shares every band bucket; over-cap buckets
                  degrade to anchor-star candidates)
- dedup_semantic  SemDeDup (hot cluster = one hot cell; max_block star
                  cap bounds the within-cell quadratic)
- tfidf           per-doc top-k TF-IDF (round 10: the planted 10% hot
                  cluster makes its base-text terms appear in 10% of all
                  docs — hot DF keys; partial aggregation absorbs them)
- pack            token-budget sequence packing (round 10: shard key is a
                  hash of the doc id, so content skew shifts token-mass
                  distribution but cannot funnel one shard)
- token_budget    per-source budget cut (round 10: make_skew reassigns
                  ~90% of docs to src0 — one group holds 90% of the mass;
                  the bucketed prefix-sum must stay map-side, no
                  whole-group window)

Usage: python tools/skew_smoke.py [uniform_dir] [skew_dir]
Prints one JSON line: {"queries": {name: {"uniform": s, "skew": s,
"ratio": r}}, ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    uniform = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    skew = sys.argv[2] if len(sys.argv) > 2 else "/tmp/wmb_skew"
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))

    from woe_monotonic_binning_spark import get_spark
    from woe_monotonic_binning_spark.operators.dedup import (
        audio_neardup_pairs,
        dedup_keep_canonical,
        exact_dedup_by_digest,
        image_neardup_pairs,
        minhash_dedup_pairs,
        semantic_dedup,
    )
    from tests.media_fixtures import (
        synthetic_gradient_ppm_media,
        synthetic_tone_wav_media,
    )
    from woe_monotonic_binning_spark.operators.joins import salted_join
    from woe_monotonic_binning_spark.operators.packing import pack_sequences
    from woe_monotonic_binning_spark.operators.sampling import (
        select_to_token_budget,
    )
    from woe_monotonic_binning_spark.operators.similarity import (
        srp_threshold_pairs,
    )
    from woe_monotonic_binning_spark.operators.text import (
        text_stats,
        tfidf_top_terms,
    )
    from woe_monotonic_binning_spark.operators.tokenizer import (
        bpe_token_count,
        train_bpe,
    )
    from woe_monotonic_binning_spark.operators.urls import cap_per_domain
    from woe_monotonic_binning_spark.operators.windows import (
        session_agg,
        session_agg_twophase,
        top_users_per_window,
    )

    spark = get_spark(app_name="wmb-skew-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    def read_events(d):
        return spark.read.parquet(f"{d}/events.parquet")

    def read_docs(d):
        return spark.read.parquet(f"{d}/documents.parquet")

    def read_emb(d):
        return spark.read.parquet(f"{d}/embeddings.parquet").withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )

    def user_dim(d):
        # a per-user dim built once OUTSIDE the timed region (eagerly
        # materialized to a local relation so the timed join measures the
        # join, not the dim scan)
        pdf = (
            read_events(d)
            .select("user_id")
            .distinct()
            .withColumn("segment", F.pmod("user_id", F.lit(7)))
            .collect()
        )
        return spark.createDataFrame(pdf, "user_id long, segment bigint")

    shapes = {
        "events_session": lambda d, ctx: session_agg(read_events(d)).agg(
            F.count("*")
        ).collect(),
        # skew-bounded split-merge twin (round 9): phase 1 sessionizes per
        # (user, day), phase 2 island-merges local sessions — the hot user
        # no longer caps the job at one task's speed
        "events_session_twophase": lambda d, ctx: session_agg_twophase(
            read_events(d)
        ).agg(F.count("*")).collect(),
        "events_topk": lambda d, ctx: top_users_per_window(read_events(d)).agg(
            F.count("*")
        ).collect(),
        "join_shuffle": lambda d, ctx: read_events(d)
        .join(ctx["dim"], "user_id")
        .agg(F.count("*"), F.sum("segment"))
        .collect(),
        "join_salted": lambda d, ctx: salted_join(
            read_events(d), ctx["dim"], "user_id", n_salts=16
        )
        .agg(F.count("*"), F.sum("segment"))
        .collect(),
        "dedup_minhash": lambda d, ctx: minhash_dedup_pairs(
            read_docs(d), "text", "doc_id", threshold=0.7
        ).count(),
        "dedup_cc": lambda d, ctx: dedup_keep_canonical(
            read_docs(d),
            minhash_dedup_pairs(read_docs(d), "text", "doc_id", threshold=0.7),
            "doc_id",
        ).count(),
        "dedup_digest": lambda d, ctx: exact_dedup_by_digest(
            read_docs(d), "text", "doc_id"
        ).count(),
        # protection contrast: same pipeline with the bucket cap tuned
        # BELOW the planted hot cluster, so the mega-bucket is dropped —
        # the documented recall-for-cost trade for zipfian corpora.  On
        # the uniform corpus this should cost ~nothing (no mega buckets);
        # on the skewed corpus it removes the O(k^2) intra-cluster pairs.
        "dedup_minhash_capped": lambda d, ctx: minhash_dedup_pairs(
            read_docs(d), "text", "doc_id", threshold=0.7, max_bucket=1000
        ).count(),
        # embedding near-dup under a hot vector cluster (round 9): SRP with
        # the cap BELOW the planted cluster (star fallback on every band
        # bucket it floods), and SemDeDup with/without the max_block cap
        # 8-bit bands (n_bands=8) keep healthy buckets ~|corpus|/256 so the
        # planted hot cluster is the ONLY over-cap key at sf1
        "dedup_srp": lambda d, ctx: srp_threshold_pairs(
            read_emb(d), threshold=0.9, n_bits=64, n_bands=8, max_bucket=500
        ).count(),
        # LIBRARY DEFAULTS (round 11: threshold-adaptive bands, 12
        # bits/band at t=0.9, max_bucket=1_000) — the defaults arm the
        # round-10 verdict asked to measure: the planted hot cluster
        # (~10% of vectors) exceeds the cap and star-degrades
        "dedup_srp_default": lambda d, ctx: srp_threshold_pairs(
            read_emb(d), threshold=0.9
        ).count(),
        # contrast: the PRE-round-11 default cap under the same adaptive
        # bands — at sf1 the hot cluster (~2k vectors) stays UNDER 10_000
        # and runs the O(k^2) in-bucket self-join on one reducer, the
        # quadratic window the round-10 verdict flagged
        "dedup_srp_cap10k": lambda d, ctx: srp_threshold_pairs(
            read_emb(d), threshold=0.9, max_bucket=10_000
        ).count(),
        # "dedup_semantic" is the LIBRARY DEFAULT (capped at 1_000 since
        # round 10) — the arm the verdict grades: skew-safe at defaults.
        # "dedup_semantic_exact" is the opt-in uncapped quadratic
        # (max_block=None, the pre-round-10 default) kept for contrast.
        "dedup_semantic": lambda d, ctx: semantic_dedup(
            read_emb(d), n_cells=16, threshold=0.99
        ).count(),
        "dedup_semantic_capped": lambda d, ctx: semantic_dedup(
            read_emb(d), n_cells=16, threshold=0.99, max_block=500
        ).count(),
        "dedup_semantic_exact": lambda d, ctx: semantic_dedup(
            read_emb(d), n_cells=16, threshold=0.99, max_block=None
        ).count(),
        # trainable-BPE apply under a zipfian vocabulary (round 15): the
        # skew corpus's hot duplicate cluster makes a handful of word
        # types carry most occurrences — the per-executor distinct-word
        # cache is exactly what absorbs that (hot words encode once per
        # worker, not per occurrence); training happens OUTSIDE the
        # timed region (ctx), like the join dim
        "bpe_count": lambda d, ctx: bpe_token_count(
            read_docs(d), ctx["bpe"]
        ).agg(F.sum("n_tokens_bpe")).collect(),
        # per-domain cap under a hot domain (round 15): domain derived
        # from the text digest, so the skew corpus's exact-dup cluster
        # (~5% of docs share one digest) is ONE hot domain; row_number
        # over the domain window is a streaming cut, so the hot
        # partition is fat but never buffered or collected
        "domain_cap": lambda d, ctx: cap_per_domain(
            read_docs(d).withColumn(
                "url_domain", F.substring(F.md5("text"), 1, 4)
            ),
            10,
        ).count(),
        # perceptual image near-dup under a hot duplicate image (round
        # 16): the gradient-fixture seed is keyed on the text digest, so
        # the skew corpus's exact-dup cluster (~5% of docs share one
        # digest) becomes ONE hot identical image — its band buckets
        # carry the whole cluster and the max_bucket guard / anchor-star
        # fallback is what bounds the pair blow-up.  (The %256 seed
        # arithmetic folds the uniform corpus into ~256 distinct images,
        # so both arms carry real duplicate groups; the ratio isolates
        # the one mega-group's cost.)
        "image_dhash": lambda d, ctx: image_neardup_pairs(
            synthetic_gradient_ppm_media(
                read_docs(d).withColumn(
                    "__img_seed",
                    F.conv(F.substring(F.md5("text"), 1, 6), 16, 10).cast(
                        "long"
                    ),
                ),
                seed_col="__img_seed",
            ),
            max_hamming=3,
        ).count(),
        # perceptual audio near-dup under a hot duplicate recording
        # (round 16): same digest-keyed seed trick as image_dhash — the
        # skew corpus's exact-dup cluster becomes ONE hot identical tone
        "audio_ahash": lambda d, ctx: audio_neardup_pairs(
            synthetic_tone_wav_media(
                read_docs(d).withColumn(
                    "__img_seed",
                    F.conv(F.substring(F.md5("text"), 1, 6), 16, 10).cast(
                        "long"
                    ),
                ),
                seed_col="__img_seed",
            ),
            max_hamming=3,
        ).count(),
        "tfidf": lambda d, ctx: tfidf_top_terms(read_docs(d)).count(),
        "pack": lambda d, ctx: pack_sequences(
            text_stats(read_docs(d)).select("doc_id", "stat_tokens"),
            budget=512,
            n_shards=32,
        ).count(),
        # n_chars stands in for the token mass (same column both dirs);
        # src0 carries ~90% of it in the skew variant
        "token_budget": lambda d, ctx: select_to_token_budget(
            read_docs(d).select("doc_id", "source", "n_chars"),
            budgets={"src0": 200_000.0},
            token_col="n_chars",
        ).count(),
        # trained language ID (round 17): pure map-side scoring — the
        # skew corpus's hot duplicate cluster repeats one text, which a
        # per-row projection must absorb at cost 1x per row (training
        # happens OUTSIDE the timed region, like the join dim / bpe)
        "langid_predict": lambda d, ctx: ctx["lid"]
        .predict(read_docs(d))
        .groupBy("lang_pred")
        .count()
        .collect(),
        # perplexity scoring (round 17): the hot-duplicate-doc arm the
        # verdict asked for — the broadcast log-prob map + integer fold
        # is per-row work, so one text repeated in 5% of the corpus
        # must not change the per-row cost
        "ppl_score": lambda d, ctx: ctx["lm"]
        .score(read_docs(d))
        .agg(F.sum("ppl_logmass"), F.count("ppl_n"))
        .collect(),
        # WARC record walk + HTTP body decoding (round 17): one blob
        # per doc rotating plain/chunked/gzip/deflate framing —
        # one mapInArrow (the shared row runner), embarrassingly
        # parallel, skew-neutral by shape
        "warc_decode": lambda d, ctx: ctx["explode_warc"](
            ctx["synthetic_warc"](read_docs(d))
        ).agg(F.sum("n_bytes"), F.count("content")).collect(),
        # temperature mixing (round 17): the skew corpus's 90%-hot
        # source is EXACTLY the zipfian mixture alpha-sampling exists
        # to rebalance — one bounded aggregate + a literal-CASE filter
        "temp_mix": lambda d, ctx: ctx["mix_sources"](
            read_docs(d),
            ctx["temperature_weights"](
                read_docs(d), alpha=0.5, target_tokens=20_000.0
            ),
        ).count(),
        # charset decode with the meta prescan (round 17): per-row
        # bytes work over the synthetic mixed-encoding payloads
        "text_decode_meta": lambda d, ctx: ctx["decode_text"](
            ctx["synthetic_text"](read_docs(d)), hint_col="charset_hint"
        ).agg(F.sum("n_bytes"), F.count("encoding")).collect(),
    }

    only = os.environ.get("SPARK_GRAFT_SKEW_ONLY")
    if only:
        keep = {s.strip() for s in only.split(",") if s.strip()}
        unknown = keep - set(shapes)
        if unknown:
            raise SystemExit(f"unknown SPARK_GRAFT_SKEW_ONLY shapes: {sorted(unknown)}")
        shapes = {k: v for k, v in shapes.items() if k in keep}

    # the join shapes must not silently broadcast the dim — the point is
    # the shuffled-reducer hot key
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    results: dict[str, dict[str, float]] = {}
    try:
        from woe_monotonic_binning_spark.langid import train_language_id
        from woe_monotonic_binning_spark.operators.multimodal import decode_text
        from tests.media_fixtures import synthetic_text_media
        from woe_monotonic_binning_spark.operators.sampling import (
            mix_sources,
            temperature_weights,
        )
        from woe_monotonic_binning_spark.perplexity import train_ngram_lm
        from woe_monotonic_binning_spark.sources.warc import explode_warc_column
        from tests.media_fixtures import synthetic_warc_blobs

        for label, d in (("uniform", uniform), ("skew", skew)):
            ctx = {
                "dim": user_dim(d),
                "bpe": train_bpe(
                    read_docs(d), num_merges=64, max_word_types=20_000
                ),
                # round-17 models, fitted OUTSIDE the timed region
                "lid": train_language_id(read_docs(d), buckets=256),
                "lm": train_ngram_lm(
                    read_docs(d), min_count=2, max_vocab=5_000,
                    max_ngrams=100_000,
                ),
                "explode_warc": explode_warc_column,
                "synthetic_warc": synthetic_warc_blobs,
                "mix_sources": mix_sources,
                "temperature_weights": temperature_weights,
                "decode_text": decode_text,
                "synthetic_text": synthetic_text_media,
            }
            # warm-up: every shape once (codegen + listings)
            for fn in shapes.values():
                fn(d, ctx)
            for name, fn in shapes.items():
                times = []
                for _ in range(reps):
                    spark.catalog.clearCache()
                    t0 = time.time()
                    fn(d, ctx)
                    times.append(time.time() - t0)
                results.setdefault(name, {})[label] = round(min(times), 3)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)

    for name, r in results.items():
        r["ratio"] = round(r["skew"] / r["uniform"], 2) if r.get("uniform") else None
    print(json.dumps({"metric": "wmb_skew_smoke", "queries": results}))
    spark.stop()


if __name__ == "__main__":
    main()
