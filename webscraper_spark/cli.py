"""User-facing CLI — the engine's equivalent of the reference's entry
points, one subcommand per workflow:

- ``crawl``   — EP1/EP2/EP3's fetch loops (``Main_Runner.py:29-45``,
  ``Glassdoor_url_finder.py`` → ``Glassdoor_Scraper_New.py``,
  ``LinkedIn-Updated-Script.py:1814-1852``): run N politeness-scheduled
  rounds over a pages table, resumable from the store.
- ``match``   — ``crunchbase_matching.py:92-108``: normalized-key
  anti/semi-join partition of an incoming CSV against a CRM CSV.
- ``report``  — the reference's run summaries / progress logs
  (``Glassdoor_url_finder.py:354-366``): per-round lineage + metrics.

Run locally as ``python -m webscraper_spark.cli ...`` or on a cluster via
``spark-submit --py-files webscraper_spark.zip`` (see tools/submit.sh).
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(args):
    from .session import get_spark

    return get_spark(app_name=f"webscraper_spark_{args.cmd}", cores=args.cores)


def cmd_crawl(args) -> int:
    """Three equivalent corpus shapes behind one entry point:

    - ``--pages``: a static pages parquet (the original batch crawl);
    - ``--drop-dir`` (batch mode): Auto-Loader-style incremental WARC
      ingest — each round ingests exactly the archives that landed since
      the last committed round (``run_incremental_crawl``);
    - ``--drop-dir --drop-mode streaming``: the Structured-Streaming
      twin — a checkpointed ``binaryFile`` stream drains the drop dir
      exactly-once into a parquet ``pages_stream`` sink inside the
      store, then the same round job runs over the accumulated corpus.
    """
    import os

    from .plans.round import run_crawl
    from .sources.tables import TableStore

    if (args.pages is None) == (args.drop_dir is None):
        print(json.dumps({"error": "pass exactly one of --pages / --drop-dir"}))
        return 2
    spark = _spark(args)
    seeds = (
        spark.read.parquet(args.seeds)
        if args.seeds_format == "parquet"
        else spark.read.csv(args.seeds, header=True)
    )
    hosts = spark.read.parquet(args.hosts)
    store = TableStore(spark, args.store)
    if args.drop_dir is not None and args.drop_mode == "batch":
        from .sources.warc_drop import run_incremental_crawl

        lineages = run_incremental_crawl(
            store, args.drop_dir, seeds, hosts,
            n_rounds=args.rounds, per_host_budget=args.budget,
            settle_seconds=args.settle_seconds,
            ledger_compact_every=args.ledger_compact_every,
        )
    else:
        if args.drop_dir is not None:  # streaming twin → round-job handoff
            from .sources.warc_drop import stream_pages_from_drop

            sink = os.path.join(args.store, "pages_stream")
            ckpt = os.path.join(args.store, "pages_stream_ckpt")
            sdf = stream_pages_from_drop(spark, args.drop_dir)
            q = (
                sdf.writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            # explicit schema: an empty drop dir writes zero data files,
            # and schema inference over the bare sink would raise instead
            # of running a clean round over an empty corpus (ADVICE r05)
            pages = spark.read.schema(sdf.schema).parquet(sink)
        else:
            pages = spark.read.parquet(args.pages)
        lineages = run_crawl(
            store, pages, seeds, hosts,
            n_rounds=args.rounds, per_host_budget=args.budget,
        )
    for i, l in enumerate(lineages, start=store.last_committed_round() - len(lineages) + 1):
        print(json.dumps({"round": i, **l}))
    return 0


def cmd_match(args) -> int:
    from pyspark.sql import functions as F

    from .functions.textfns import normalize_string_udf

    spark = _spark(args)
    incoming = spark.read.csv(args.incoming, header=True)
    crm = spark.read.csv(args.crm, header=True)
    inc = incoming.withColumn("__norm", normalize_string_udf(F.col(args.key)))
    crm_keys = crm.select(normalize_string_udf(F.col(args.crm_key or args.key)).alias("__norm"))
    unmatched = inc.join(crm_keys, on="__norm", how="left_anti").drop("__norm")
    matched = inc.join(crm_keys, on="__norm", how="left_semi").drop("__norm")
    unmatched.coalesce(1).write.mode("overwrite").csv(args.out_unmatched, header=True)
    matched.coalesce(1).write.mode("overwrite").csv(args.out_matched, header=True)
    print(json.dumps({"matched": matched.count(), "unmatched": unmatched.count()}))
    return 0


def cmd_compact(args) -> int:
    from .sources.tables import TableStore

    spark = _spark(args)
    store = TableStore(spark, args.store)
    for t in args.tables.split(","):
        t = t.strip()
        k = store.compact(t, target_partitions=args.target_partitions)
        print(json.dumps({"table": t, "compacted_through": k}))
    return 0


def cmd_curate(args) -> int:
    """Training-data curation over a documents parquet: exact dedup →
    cross-document repeated-passage removal → language/quality gate →
    optional benchmark decontamination (--benchmark) → optional PII
    redaction (--redact-pii) → embedding generation (→ optional IVF
    bucketing). The batch pipeline a pretraining sweep runs per shard,
    driven from one command."""
    from pyspark.sql import functions as F

    from .operators.similarity import (
        embed_documents_fast,
        exact_dedup,
        ivf_assign_fast,
        ivf_train,
        passage_filter_text,
    )
    from .operators.textstats import lang_id, quality_features, quality_score_col

    spark = _spark(args)
    d = spark.read.parquet(args.docs).select("doc_id", "text")
    n_in = d.count()

    canon = exact_dedup(d).select(F.col("canonical_id").alias("doc_id"))
    kept = d.join(canon, on="doc_id", how="left_semi")

    # passage-level dedup rebuilds text without cross-doc boilerplate.
    # Three cases: a clean row with kept passages → use clean_text
    # (which includes any trailing partial span); a clean row with
    # n_kept_passages = 0 → the doc is 100% cross-doc boilerplate and is
    # DROPPED (falling back to the original text would feed the worst
    # duplicates to the tokenizer verbatim); no clean row → the doc is
    # shorter than one span and keeps its original text
    clean = passage_filter_text(
        kept, span=args.passage_span, min_dup_docs=args.min_dup_docs,
        portable=False,
    ).select("doc_id", "clean_text", "n_kept_passages")
    kept = (
        kept.join(clean, on="doc_id", how="left")
        .filter(
            F.col("n_kept_passages").isNull() | (F.col("n_kept_passages") > 0)
        )
        .select("doc_id", F.coalesce("clean_text", "text").alias("text"))
    )

    scored = quality_features(lang_id(kept)).withColumn(
        "quality_score", quality_score_col()
    )
    gated = scored.filter(
        (F.col("lang_pred") == args.lang)
        & (F.col("quality_score") >= args.min_quality)
    ).select("doc_id", "text", "lang_pred", "quality_score", "n_tokens")

    # decontaminate BEFORE redaction: benchmark grams are computed on
    # raw text, and a doc dropped here must never reach the tokenizer.
    # gated is persisted so the gate count, the probe join and the
    # final write execute the upstream pipeline once, not three times;
    # decontamination is the ONLY post-gate dropper, so its count falls
    # out of (gate count − written count) with no extra action.
    n_gated = None
    gate_cache = None
    if args.benchmark:
        from .operators.decontam import decontaminate

        bench = spark.read.parquet(args.benchmark).select("text")
        gated = gate_cache = gated.persist()
        n_gated = gated.count()
        gated = decontaminate(gated, bench)
    if args.redact_pii:
        from .functions.pii import redact_pii
        from .operators.textstats import token_count_col

        # n_tokens must describe the text actually shipped: redaction
        # can change the token count (e.g. '555 123 4567' → '<PHONE>')
        gated = redact_pii(gated, "text").select(
            "doc_id", F.col("text_redacted").alias("text"),
            "lang_pred", "quality_score",
        ).withColumn("n_tokens", token_count_col("text"))
    gated.write.mode("overwrite").parquet(f"{args.out}/clean_docs.parquet")
    if gate_cache is not None:
        # the clean_docs write is the last consumer of the cached gate;
        # unpersist so a library-driven cmd_curate doesn't pin the
        # upstream pipeline for the rest of the session (ADVICE r05)
        gate_cache.unpersist()
    gated = spark.read.parquet(f"{args.out}/clean_docs.parquet")

    emb = embed_documents_fast(gated.select("doc_id", "text"), id_col="doc_id")
    if args.ivf_centroids > 0:
        cents = ivf_train(
            emb, n_centroids=args.ivf_centroids, n_iters=args.ivf_iters,
            id_col="doc_id", sample_fraction=args.ivf_sample, tol=1e-9,
        )
        emb = ivf_assign_fast(
            emb,
            cents.select(F.col("centroid_id").alias("doc_id"), "embedding"),
            id_col="doc_id",
        )
    emb.write.mode("overwrite").parquet(f"{args.out}/embeddings.parquet")
    n_out = gated.count()
    print(json.dumps({
        "docs_in": n_in,
        "docs_out": n_out,
        "dropped": n_in - n_out,
        "decontaminated": (n_gated - n_out) if n_gated is not None else 0,
        "pii_redacted": bool(args.redact_pii),
        "ivf_centroids": args.ivf_centroids,
        "out": args.out,
    }))
    return 0


def cmd_report(args) -> int:
    from pyspark.sql import functions as F

    from .sources.tables import TableStore

    spark = _spark(args)
    store = TableStore(spark, args.store)
    last = store.last_committed_round()
    if last is None:
        print(json.dumps({"error": "store has no committed rounds"}))
        return 1
    manifest = store.read_manifest()
    metrics = store.read_delta("metrics", up_to=last)
    per_round = (
        metrics.groupBy("round")
        .agg(
            F.sum("scheduled").alias("scheduled"),
            F.sum("fetched").alias("fetched"),
            F.sum("missed").alias("missed"),
            F.sum("new_urls").alias("new_urls"),
            F.sum("bytes_html").alias("bytes_html"),
        )
        .orderBy("round")
    )
    for r in per_round.collect():
        print(json.dumps(r.asDict()))
    print(json.dumps({"committed_rounds": manifest["committed_rounds"]}))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="webscraper_spark")
    ap.add_argument("--cores", default=None, help="local[N] cores (default: env/all)")
    sub = ap.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("crawl", help="run politeness-scheduled crawl rounds")
    c.add_argument("--pages", default=None, help="static pages parquet")
    c.add_argument("--drop-dir", default=None,
                   help="WARC drop directory (incremental ingest instead of --pages)")
    c.add_argument("--drop-mode", choices=["batch", "streaming"], default="batch",
                   help="drop-dir discovery: ledger-committed batch (default) "
                        "or the checkpointed Structured-Streaming twin")
    c.add_argument("--settle-seconds", type=float, default=0.0,
                   help="batch drop-dir: skip files modified within this window")
    c.add_argument("--ledger-compact-every", type=int, default=8,
                   help="batch drop-dir: fold ingest-ledger partitions every N rounds")
    c.add_argument("--seeds", required=True)
    c.add_argument("--seeds-format", choices=["csv", "parquet"], default="csv",
                   help="seed list format (explicit flag, no path sniffing)")
    c.add_argument("--hosts", required=True)
    c.add_argument("--store", required=True)
    c.add_argument("--rounds", type=int, default=1)
    c.add_argument("--budget", type=int, default=5)
    c.set_defaults(fn=cmd_crawl)

    m = sub.add_parser("match", help="normalized-key matched/unmatched partition")
    m.add_argument("--incoming", required=True)
    m.add_argument("--crm", required=True)
    m.add_argument("--key", required=True, help="incoming name column")
    m.add_argument("--crm-key", default=None, help="crm name column (default: --key)")
    m.add_argument("--out-matched", required=True)
    m.add_argument("--out-unmatched", required=True)
    m.set_defaults(fn=cmd_match)

    r = sub.add_parser("report", help="per-round lineage/metrics summary")
    r.add_argument("--store", required=True)
    r.set_defaults(fn=cmd_report)

    cu = sub.add_parser(
        "curate",
        help="training-data curation: dedup → passage clean → lang/quality "
             "gate → decontamination (--benchmark) → PII redaction "
             "(--redact-pii) → embeddings (→ IVF buckets)",
    )
    cu.add_argument("--docs", required=True, help="documents parquet (doc_id, text)")
    cu.add_argument("--out", required=True)
    cu.add_argument("--lang", default="en")
    cu.add_argument("--min-quality", type=float, default=0.75)
    cu.add_argument("--passage-span", type=int, default=8)
    cu.add_argument("--min-dup-docs", type=int, default=2)
    cu.add_argument("--ivf-centroids", type=int, default=0, help="0 = skip IVF")
    cu.add_argument("--ivf-iters", type=int, default=3)
    cu.add_argument("--ivf-sample", type=float, default=None)
    cu.add_argument("--benchmark", default=None,
                    help="benchmark parquet (doc_id, text): drop docs "
                         "sharing a 13-gram with any item (decontamination)")
    cu.add_argument("--redact-pii", action="store_true",
                    help="redact emails/IPs/SSN/phone shapes in the "
                         "output text")
    cu.set_defaults(fn=cmd_curate)

    k = sub.add_parser("compact", help="fold delta-table round partitions into one base")
    k.add_argument("--store", required=True)
    k.add_argument("--tables", default="seen,fetched,metrics",
                   help="comma-separated delta tables (default: seen,fetched,metrics)")
    k.add_argument("--target-partitions", type=int, default=8)
    k.set_defaults(fn=cmd_compact)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
