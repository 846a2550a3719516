"""Training-corpus curation as a CLI — the second user journey
(tools/pipeline_cli.py is the RAG/index journey; this is the
LLM-pretraining one): the README's curation quickstart as commands
over a parquet documents table with (doc_id, text[, source, lang]).

    python tools/curate_cli.py report <docs_parquet>
    python tools/curate_cli.py fit-quality <labeled_parquet> <weights.json> \\
        [--label-col label]
    python tools/curate_cli.py fit-langid <labeled_parquet> <profiles_dir> \\
        [--lang-col lang]
    python tools/curate_cli.py lang-id <docs_parquet> <profiles_dir> \\
        [--out pred_parquet]
    python tools/curate_cli.py web-quality <docs_parquet> \\
        [--gate <'+'-combo of c4/gopher/rep>] [--out kept_parquet]
    python tools/curate_cli.py run <docs_parquet> <out_dir> \\
        [--span-n 20] [--nll-max 5.38] [--min-quality 0.25] \\
        [--quality-weights weights.json] \\
        [--splits train=0.9,val=0.05,test=0.05]

``fit-quality`` trains the logistic quality model on a labeled sample
(0/1 label column; the CCNet second-stage shape) and writes the
weights as JSON; ``run --quality-weights`` serves them — otherwise
the documented hand-pinned prior scores.

``run`` executes substring-span surgery (Lee et al. shape) ->
char-trigram LM self-scoring of the POST-surgery text (CCnet
ordering; size-gated model join) -> logistic quality classification
-> deterministic hash splits, writes the surviving docs partitioned
by split under <out_dir>/corpus, and prints JSON accounting: input
and output dataset cards plus per-stage drop counts. Every operator
in the chain is oracle-certified in the catalog; the CLI only
composes them.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _report_row(df) -> dict:
    from data_ingestion_tool_bakasura__spark.functions.textstats import corpus_report

    return corpus_report(df).first().asDict()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="curate_cli")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_rep = sub.add_parser("report", help="one-row dataset card")
    p_rep.add_argument("docs")

    p_fit = sub.add_parser("fit-quality", help="train quality weights on a labeled sample")
    p_fit.add_argument("labeled")
    p_fit.add_argument("weights_out")
    p_fit.add_argument("--label-col", default="label")

    p_bpe = sub.add_parser("train-bpe", help="learn a BPE merge table from the corpus")
    p_bpe.add_argument("docs")
    p_bpe.add_argument("merges_out")
    p_bpe.add_argument("--n-merges", type=int, default=1000)
    p_bpe.add_argument("--max-words", type=int, default=50_000)

    p_fl = sub.add_parser(
        "fit-langid", help="fit char-trigram language profiles on labeled docs"
    )
    p_fl.add_argument("labeled")
    p_fl.add_argument("profiles_out")
    p_fl.add_argument("--lang-col", default="lang")

    p_li = sub.add_parser(
        "lang-id", help="classify docs against fitted language profiles"
    )
    p_li.add_argument("docs")
    p_li.add_argument("profiles")
    p_li.add_argument("--out", default=None,
                      help="write (doc_id, guess, score) parquet here")

    p_wq = sub.add_parser(
        "web-quality", help="C4 line cleaning + Gopher quality gate"
    )
    p_wq.add_argument("docs")
    p_wq.add_argument("--gate", default="c4+gopher",
                      help="'+'-combination of c4/gopher/rep "
                           "(validated by web_quality_filter)")
    p_wq.add_argument("--out", default=None,
                      help="write surviving (cleaned) docs parquet here")

    p_run = sub.add_parser("run", help="surgery -> LM filter -> quality -> splits")
    p_run.add_argument("docs")
    p_run.add_argument("out_dir")
    p_run.add_argument("--span-n", type=int, default=20)
    p_run.add_argument("--nll-max", type=float, default=5.38)
    p_run.add_argument("--min-quality", type=float, default=0.25)
    p_run.add_argument("--quality-weights", default=None,
                       help="JSON weights from fit-quality (default: pinned prior)")
    p_run.add_argument("--splits", default="train=0.9,val=0.05,test=0.05")
    p_run.add_argument("--dsir-target", default=None,
                       help="parquet of target-domain docs: keep only the "
                            "--dsir-k docs importance-resampled toward it")
    p_run.add_argument("--dsir-k", type=int, default=100)

    p_ug = sub.add_parser(
        "train-unigram",
        help="learn a unigram-LM (SentencePiece-style) piece vocab",
    )
    p_ug.add_argument("docs")
    p_ug.add_argument("model_out", help="JSON {piece: log-prob}")
    p_ug.add_argument("--vocab-size", type=int, default=8000)
    p_ug.add_argument("--max-words", type=int, default=50_000)
    p_ug.add_argument("--iters", type=int, default=4)

    p_exp = sub.add_parser(
        "export-shards",
        help="docs parquet -> WebDataset tar shards for a training dataloader",
    )
    p_exp.add_argument("docs")
    p_exp.add_argument("out_dir")
    p_exp.add_argument("--key-col", default="doc_id")
    p_exp.add_argument("--rows-per-shard", type=int, default=1000)
    p_exp.add_argument(
        "--columns", default="text=.txt",
        help="comma list col=ext, e.g. 'text=.txt,meta=.json'",
    )

    p_warc = sub.add_parser(
        "export-warc",
        help="corpus parquet -> spec-framed WARC files (archive interchange)",
    )
    p_warc.add_argument("docs")
    p_warc.add_argument("out_dir")
    p_warc.add_argument("--url-col", default="url")
    p_warc.add_argument("--payload-col", default="text")
    p_warc.add_argument(
        "--date-col", default=None,
        help="WARC-Date column; when absent every record gets --date",
    )
    p_warc.add_argument("--date", default="2026-01-01T00:00:00Z")
    p_warc.add_argument("--records-per-file", type=int, default=1000)
    p_warc.add_argument(
        "--gzip", action="store_true",
        help="one gzip member per record (the Common Crawl .warc.gz layout)",
    )
    p_warc.add_argument(
        "--compression", choices=["gzip", "zstd"], default=None,
        help="member codec (r13): zstd = .warc.zst (requires the "
             "zstandard package; import-gated like the read side); "
             "--gzip is the back-compat spelling of --compression gzip",
    )
    p_warc.add_argument(
        "--cdx", action="store_true",
        help="publish sibling .cdxj index files (true member offsets; "
             "feeds read_cdx/fetch_plan/read_warc_ranges)",
    )

    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from data_ingestion_tool_bakasura__spark.session import get_spark, reliable_checkpoint

    spark = get_spark("curate-cli")
    spark.sparkContext.setLogLevel("ERROR")
    if args.cmd == "fit-quality":
        from data_ingestion_tool_bakasura__spark.operators.sampling import (
            fit_quality_weights,
        )

        labeled = spark.read.parquet(args.labeled)
        w = fit_quality_weights(labeled, label_col=args.label_col)
        with open(args.weights_out, "w") as f:
            json.dump(w, f)
        print(json.dumps({"event": "quality_fitted", "weights": w,
                          "out": args.weights_out}))
        return 0

    if args.cmd == "fit-langid":
        from data_ingestion_tool_bakasura__spark.operators.sampling import (
            fit_lang_profiles,
        )

        labeled = spark.read.parquet(args.labeled)
        prof = fit_lang_profiles(labeled, lang_col=args.lang_col)
        prof.write.mode("overwrite").parquet(args.profiles_out)
        stats = {
            r["lang"]: r["n"]
            for r in prof.groupBy("lang").agg(F.count("*").alias("n")).collect()
        }
        print(json.dumps({"event": "langid_fitted", "out": args.profiles_out,
                          "trigrams_per_lang": stats}))
        return 0

    docs = spark.read.parquet(args.docs)

    if args.cmd == "lang-id":
        from data_ingestion_tool_bakasura__spark.operators.sampling import (
            trigram_lang_id,
        )

        prof = spark.read.parquet(args.profiles)
        pred = trigram_lang_id(docs, prof)
        if args.out:
            pred.write.mode("overwrite").parquet(args.out)
        counts = {
            r["guess"]: r["n"]
            for r in pred.groupBy("guess").agg(F.count("*").alias("n")).collect()
        }
        print(json.dumps({"event": "lang_identified", "n_docs": sum(counts.values()),
                          "by_lang": counts, "out": args.out}))
        return 0

    if args.cmd == "report":
        print(json.dumps(_report_row(docs), default=str))
        return 0

    if args.cmd == "web-quality":
        from data_ingestion_tool_bakasura__spark.operators.crawl import (
            web_quality_filter,
        )

        n_in = docs.count()
        kept = web_quality_filter(docs, "text", args.gate)
        if args.out:
            kept.write.mode("overwrite").parquet(args.out)
            kept = spark.read.parquet(args.out)
        n_out = kept.count()
        print(json.dumps({
            "event": "web_quality_filtered", "gate": args.gate,
            "n_in": n_in, "n_out": n_out, "n_dropped": n_in - n_out,
            "out": args.out,
        }))
        return 0

    if args.cmd == "train-unigram":
        from data_ingestion_tool_bakasura__spark.functions.unigram import (
            n_tokens_unigram,
            unigram_train,
        )

        docs = spark.read.parquet(args.docs)
        model = unigram_train(
            docs, vocab_size=args.vocab_size, max_words=args.max_words,
            n_iters=args.iters,
        )
        with open(args.model_out, "w") as f:
            json.dump(model, f)
        total = docs.select(
            F.sum(n_tokens_unigram("text", model)).alias("t")
        ).first()["t"]
        print(json.dumps({
            "event": "unigram_trained", "vocab_size": len(model),
            "n_chars": sum(1 for p in model if len(p) == 1),
            "total_tokens": int(total or 0), "out": args.model_out,
        }))
        return 0

    if args.cmd == "export-shards":
        from data_ingestion_tool_bakasura__spark.operators.shards import (
            write_tar_shards,
        )

        docs = spark.read.parquet(args.docs)
        cols = dict(kv.split("=") for kv in args.columns.split(","))
        key = F.col(args.key_col).cast("string").alias("_shard_key")
        man = write_tar_shards(
            docs.select(key, *cols), args.out_dir, "_shard_key",
            columns=cols, rows_per_shard=args.rows_per_shard,
        )
        rows = man.collect()
        print(json.dumps({
            "event": "shards_exported", "n_shards": len(rows),
            "n_samples": sum(r["n_samples"] for r in rows),
            "n_bytes": sum(r["n_bytes"] for r in rows),
            "out": args.out_dir,
        }))
        return 0

    if args.cmd == "export-warc":
        from data_ingestion_tool_bakasura__spark.sources.warc import write_warc

        docs = spark.read.parquet(args.docs)
        date = (F.col(args.date_col) if args.date_col
                else F.lit(args.date)).alias("_wdate")
        src = docs.select(
            F.col(args.url_col).alias("_wurl"), date,
            F.col(args.payload_col).alias("_wpayload"),
        )
        man = write_warc(
            src, args.out_dir, url_col="_wurl", date_col="_wdate",
            payload_col="_wpayload", status_col=None, ctype_col=None,
            records_per_file=args.records_per_file,
            gzip_members=args.gzip, cdx=args.cdx,
            compression=args.compression,
        ).collect()
        print(json.dumps({
            "event": "warc_exported", "n_files": len(man),
            "n_records": sum(r["n_records"] for r in man),
            "n_bytes": sum(r["n_bytes"] for r in man),
            "out": args.out_dir,
        }))
        return 0

    if args.cmd == "train-bpe":
        from data_ingestion_tool_bakasura__spark.functions.bpe import (
            bpe_train,
            n_tokens_learned,
        )

        merges = bpe_train(docs, n_merges=args.n_merges, max_words=args.max_words)
        with open(args.merges_out, "w") as f:
            json.dump(merges, f)
        total = docs.select(
            F.sum(n_tokens_learned("text", merges)).alias("t")
        ).first()["t"]
        print(json.dumps({
            "event": "bpe_trained", "n_merges": len(merges),
            "total_tokens": int(total or 0), "out": args.merges_out,
        }))
        return 0

    from data_ingestion_tool_bakasura__spark.operators.dedup import (
        remove_repeated_spans,
    )
    from data_ingestion_tool_bakasura__spark.operators.sampling import (
        char_trigram_nll,
        hash_split,
        quality_classifier_score,
    )

    weights = {}
    for part in args.splits.split(","):
        name, w = part.split("=")
        weights[name] = float(w)

    card_in = _report_row(docs)

    qw = None
    if args.quality_weights:
        with open(args.quality_weights) as f:
            qw = json.load(f)

    cleaned = reliable_checkpoint(remove_repeated_spans(docs, n=args.span_n))
    scored = char_trigram_nll(cleaned, text_col="cleaned", id_col="doc_id")
    quality = quality_classifier_score(
        cleaned, text_col="cleaned", id_col="doc_id",
        weights=qw, threshold=args.min_quality,
    )
    # surgery emits only (doc_id, cleaned, accounting) — join the
    # passthrough metadata back from the source table
    meta_cols = [c for c in ("source", "lang") if c in docs.columns]
    merged = cleaned.select("doc_id", F.col("cleaned").alias("text"))
    if meta_cols:
        merged = merged.join(docs.select("doc_id", *meta_cols), "doc_id")
    merged = merged.join(scored.select("doc_id", "nll"), "doc_id").join(
        quality.select("doc_id", "q_score", "keep"), "doc_id"
    )
    # unscoreable docs (< 3 chars post-surgery) fail the LM gate
    kept = merged.filter(
        F.col("keep") & F.col("nll").isNotNull() & (F.col("nll") <= args.nll_max)
    )
    if args.dsir_target:
        from data_ingestion_tool_bakasura__spark.operators.sampling import dsir_select

        target = spark.read.parquet(args.dsir_target)
        sel = dsir_select(kept, target, k=args.dsir_k, text_col="text")
        kept = kept.join(sel.select("doc_id"), "doc_id")
    out = reliable_checkpoint(hash_split(kept, "doc_id", weights))

    corpus_path = os.path.join(args.out_dir, "corpus")
    out.write.partitionBy("split").mode("overwrite").parquet(corpus_path)

    n_in = card_in["n_docs"]
    n_kept = out.count()
    n_lm_drop = merged.filter(
        F.col("nll").isNull() | (F.col("nll") > args.nll_max)
    ).count()
    n_q_drop = merged.filter(~F.col("keep")).count()
    per_split = {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    print(json.dumps({
        "event": "curated",
        "out": corpus_path,
        "n_in": n_in,
        "n_kept": n_kept,
        "dropped_by_lm": n_lm_drop,
        "dropped_by_quality": n_q_drop,
        "splits": per_split,
        "card_in": card_in,
        "card_out": _report_row(out),
    }, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
