"""spark-submit entrypoint: the whole reference service path (Flask ->
Celery -> subprocess -> Mongo, SURVEY.md §3.1) collapsed into one driver
program.

Usage:
  zip -qr engine.zip ner_linking_demo_spark
  spark-submit --py-files engine.zip ner_linking_demo_spark/__main__.py \
      --pages /data/pages_parquet --gazetteer /data/gazetteer.tsv \
      --out /data/kg --checkpoint /data/ckpt --k 3

``--pages`` accepts a parquet directory or a table name (a catalog
holding it is attached with ``--conf``).
``--gazetteer`` accepts a TSV with columns
label, code, term, semantic_tag, mainterm, language
(shape per `/root/reference/server/linking/src/utils/
gazetteer_pre_process.py:24-25`).
"""

from __future__ import annotations

import argparse
import os

import pandas as pd


def main(argv: list[str] | None = None, stop_session: bool = True) -> None:
    ap = argparse.ArgumentParser(prog="ner_linking_demo_spark")
    ap.add_argument("--pages", help="parquet dir, table name, JSONL[.gz] "
                    "path/dir, or WARC archive dir (format "
                    "auto-detected from the suffix, or forced with "
                    "--pages-format)")
    ap.add_argument("--pages-format", choices=["auto", "parquet", "table",
                    "warc", "jsonl"], default="auto")
    ap.add_argument("--gazetteer", help="gazetteer TSV path")
    ap.add_argument("--out", help="output dir / namespace")
    ap.add_argument("--checkpoint", default=None, help="checkpoint dir")
    ap.add_argument("--k", type=int, default=3)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--input-sig", default=None, help="resume signature")
    ap.add_argument(
        "--dedup-pages", action="store_true",
        help="deduplicate pages before KG construction (exact + MinHash "
        "near-dup via the corpus pipeline; one deterministic "
        "representative per duplicate cluster survives; pages whose "
        "text is missing/unextractable are dropped)",
    )
    ap.add_argument(
        "--from-html", action="store_true",
        help="derive text from the html column (native byte-exact "
        "extractor) instead of reading the text column",
    )
    ap.add_argument(
        "--maintain",
        choices=["expire", "compact", "resignature", "train-quality"],
        default=None,
        help="housekeeping instead of a pipeline run: "
        "expire = drop all but --keep-last snapshots per table + staging "
        "GC (or, with --batch-layout + --expire-upto, drop batches at or "
        "below a retention horizon); compact = rewrite each table's "
        "latest snapshot at --target-file-mb (same input signature, "
        "resume unaffected) or fold a batch layout; resignature = "
        "migrate a signature store to new hashing params (--store, "
        "--docs, --new-root, --n-hashes/--bands/--shingle-size); "
        "train-quality = train the learned quality classifier on a "
        "labeled parquet (--labeled, --model-out) for --curate "
        "--quality-model",
    )
    ap.add_argument("--store", default=None,
                    help="with --maintain resignature: the OLD signature "
                    "store root")
    ap.add_argument("--docs", default=None,
                    help="with --maintain resignature: parquet with the "
                    "original (doc_id, text) for every stored id")
    ap.add_argument("--new-root", default=None,
                    help="with --maintain resignature: root of the new "
                    "store")
    ap.add_argument("--n-hashes", type=int, default=None,
                    help="with --maintain resignature: REQUIRED new "
                    "signature width (components per signature; bands "
                    "must divide it)")
    ap.add_argument("--bands", type=int, default=None,
                    help="with --maintain resignature: REQUIRED new LSH "
                    "band count")
    ap.add_argument("--shingle-size", type=int, default=None,
                    help="with --maintain resignature: REQUIRED token "
                    "shingle width (a store pinned at a non-default "
                    "width must not silently re-shingle at another)")
    ap.add_argument("--labeled", default=None,
                    help="with --maintain train-quality: parquet of "
                    "(text string, label 0/1) rows — 1 = high quality")
    ap.add_argument("--model-out", default=None,
                    help="with --maintain train-quality: output .npz "
                    "path for the trained QualityClassifier")
    ap.add_argument("--train-dim", type=int, default=None,
                    help="with --maintain train-quality: hashed feature "
                    "table size (default 65536)")
    ap.add_argument("--train-epochs", type=int, default=60,
                    help="with --maintain train-quality: full-batch GD "
                    "epochs (default 60)")
    ap.add_argument("--tables", default=None,
                    help="comma-separated tables for --maintain "
                    "(default: every table in the checkpoint)")
    ap.add_argument("--batch-layout", default=None,
                    help="with --maintain compact/expire: operate on a "
                    "batch_id-partitioned output layout (e.g. "
                    "<out>/triples, <out>/kept, or a signature store's "
                    "data dir) instead of a checkpoint catalog; after "
                    "compact, readers must use BatchLayout.read()")
    ap.add_argument("--expire-upto", type=int, default=None,
                    help="with --maintain expire --batch-layout: drop "
                    "every batch with id <= this horizon (expire BEFORE "
                    "compact — a consolidated partition only expires "
                    "whole)")
    ap.add_argument("--expire-older-than-days", type=float, default=None,
                    help="with --maintain expire --batch-layout: "
                    "age-based horizon — drop every batch whose "
                    "published directory is older than this many days "
                    "(conservative prefix rule over batch ids; the "
                    "newest batch never expires). Mutually exclusive "
                    "with --expire-upto")
    ap.add_argument("--keep-last", type=int, default=2)
    ap.add_argument("--target-file-mb", type=int, default=128)
    ap.add_argument(
        "--curate", action="store_true",
        help="corpus-curation run instead of KG construction: pages "
        "(parquet/table/WARC, --from-html supported) -> annotate -> "
        "filter (--min-tokens/--min-quality/--lang) -> exact + near-dup "
        "dedup -> <out>/kept parquet, plus <out>/sequences (greedy "
        "packing into --max-tokens training windows). No gazetteer "
        "needed.",
    )
    ap.add_argument("--min-tokens", type=int, default=None,
                    help="with --curate: drop docs below this token count")
    ap.add_argument("--min-quality", type=float, default=None,
                    help="with --curate: drop docs below this quality "
                    "score [0,1]")
    ap.add_argument("--lang", default=None,
                    help="with --curate: comma-separated lang-id allowlist "
                    "(e.g. es,en)")
    ap.add_argument("--quality-model", default=None,
                    help="with --curate: .npz of trained "
                    "QualityClassifier weights (see "
                    "functions/quality_classifier.py save()/load()); "
                    "turns on the learned quality gate. The model "
                    "fingerprint is folded into the resume signature, "
                    "so retraining invalidates stale snapshots.")
    ap.add_argument("--model-threshold", type=float, default=0.5,
                    help="with --quality-model: keep docs with "
                    "P(quality) >= this (default 0.5)")
    ap.add_argument("--decontam", default=None,
                    help="with --curate: parquet of eval benchmark "
                    "items (eval_id, text); drops every doc sharing a "
                    "--decontam-ngram word n-gram with any item. The "
                    "eval-set fingerprint rides the resume signature.")
    ap.add_argument("--decontam-ngram", type=int, default=8,
                    help="with --decontam: contamination n-gram size "
                    "(default 8 words)")
    ap.add_argument("--line-dedup", action="store_true",
                    help="with --curate: CCNet-style duplicated-line "
                    "removal on raw text before any other stage. "
                    "Lines are compared NORMALIZED (lowercase, digits "
                    "stripped — 'page 3 of 10' == 'page 7 of 10'); "
                    "the first occurrence (min (doc_id, position)) "
                    "keeps its original text, fully-hollowed docs are "
                    "dropped")
    ap.add_argument("--substring-dedup", type=int, default=None,
                    metavar="MIN_TOKENS",
                    help="with --curate: ExactSubstr dedup (Lee et al. "
                    "2022) on raw text after line dedup — cross-doc "
                    "verbatim runs of >= MIN_TOKENS whitespace tokens "
                    "(shared by at most --substring-max-df docs; "
                    "hotter runs are boilerplate for --line-dedup / "
                    "near-dup) are spliced out of every copy but the "
                    "lowest-doc_id one; hollowed docs drop")
    ap.add_argument("--substring-ngram", type=int, default=16,
                    help="with --substring-dedup: anchor gram width in "
                    "tokens (default 16; MIN_TOKENS must be >= this)")
    ap.add_argument("--substring-max-df", type=int, default=64,
                    help="with --substring-dedup: df-pruning ceiling — "
                    "grams shared by more docs than this cannot anchor "
                    "pairs (quadratic-join guard; default 64; 0 "
                    "disables the ceiling on small corpora)")
    ap.add_argument("--decontam-report", action="store_true",
                    help="with --curate --decontam: additionally write "
                    "<out>/contamination — the per-match attribution "
                    "report (doc_id, eval_id, ngram) from the join "
                    "form, the audit artifact a decontamination "
                    "review needs")
    ap.add_argument("--scrub-pii", action="store_true",
                    help="with --curate: regex-redact emails/IPv4/"
                    "phone numbers in the kept corpus (final stage, "
                    "after dedup)")
    ap.add_argument("--jaccard", type=float, default=0.7,
                    help="with --curate: near-dup Jaccard threshold")
    ap.add_argument("--max-tokens", type=int, default=2048,
                    help="with --curate: training-window token budget "
                    "for sequence packing (0 skips packing)")
    ap.add_argument("--mix-source", action="append", default=None,
                    metavar="NAME=PATH@WEIGHT",
                    help="repeatable; with --out: assemble a "
                    "deterministic training mixture from weighted "
                    "parquet sources (weight 1.6 = one full copy + a "
                    "0.6-rate extra copy; membership is a pure "
                    "function of --mix-seed, copy and the id column, "
                    "so the mixture is identical on every run and "
                    "cluster size)")
    ap.add_argument("--mix-seed", default="",
                    help="with --mix-source: sampling seed (default "
                    "empty)")
    ap.add_argument("--mix-id-col", default="doc_id",
                    help="with --mix-source: id column the draws key "
                    "on (default doc_id; NULL ids are dropped)")
    ap.add_argument("--mix-tag-cols", default="source,copy",
                    metavar="SOURCE_COL,COPY_COL",
                    help="with --mix-source: names for the mixture tag "
                    "columns (default 'source,copy'); pick different "
                    "names when the inputs already carry columns with "
                    "these names — the mixer refuses to clobber them")
    ap.add_argument("--rank-entities", action="store_true",
                    help="graph-analytics run: read a KG edges parquet "
                    "(--edges, columns src/dst[/rel]) and write "
                    "<out>/entity_ranks (PageRank; --weight-by-assertions "
                    "counts relation rows per pair as edge strength)")
    ap.add_argument("--edges", default=None,
                    help="with --rank-entities: edges parquet path")
    ap.add_argument("--weight-by-assertions", action="store_true",
                    help="with --rank-entities: weight edges by "
                    "duplicate-assertion counts")
    ap.add_argument("--max-iter", type=int, default=20,
                    help="with --rank-entities: power iterations")
    ap.add_argument("--gopher-repetition", action="store_true",
                    help="with --curate: drop docs failing any published "
                    "Gopher repetition threshold (dup-line / top-n-gram "
                    "/ dup-n-gram character fractions)")
    ap.add_argument("--domain-blocklist", default=None,
                    help="with --curate: text file of blocked domains "
                    "(one per line, # comments; matches the host and "
                    "all parent domains — 'example.com' blocks "
                    "'a.b.example.com'); the list's content "
                    "fingerprint rides the resume signature")
    ap.add_argument("--domain-cap", type=int, default=None,
                    help="with --curate: keep at most ~N docs per host "
                    "(skew-immune approximate strategy; urls with no "
                    "parseable host are exempt)")
    args = ap.parse_args(argv)

    if args.maintain:
        if args.maintain == "resignature":
            # explicit params are the POINT of a migration: no defaults
            # that could silently pin a store to a layout nothing else
            # uses (engine defaults are n_hashes=16, bands=4)
            for req in (
                "store", "docs", "new_root", "n_hashes", "bands",
                "shingle_size",
            ):
                if getattr(args, req) is None:
                    ap.error(
                        "--maintain resignature requires --store, "
                        "--docs, --new-root, --n-hashes, --bands and "
                        "--shingle-size"
                    )
            if args.checkpoint or args.batch_layout or args.tables:
                ap.error(
                    "--maintain resignature does not combine with "
                    "--checkpoint/--batch-layout/--tables — run those "
                    "maintenance jobs separately"
                )
        elif args.maintain == "train-quality":
            for req in ("labeled", "model_out"):
                if getattr(args, req) is None:
                    ap.error(
                        "--maintain train-quality requires --labeled "
                        "and --model-out"
                    )
            if args.checkpoint or args.batch_layout or args.tables:
                ap.error(
                    "--maintain train-quality does not combine with "
                    "--checkpoint/--batch-layout/--tables"
                )
        elif not args.checkpoint and not args.batch_layout:
            ap.error("--maintain requires --checkpoint or --batch-layout")
        if (
            args.expire_older_than_days is not None
            and args.expire_upto is not None
        ):
            ap.error(
                "--expire-upto and --expire-older-than-days are two "
                "different horizons — pass exactly one"
            )
        if args.expire_older_than_days is not None and not args.batch_layout:
            ap.error(
                "--expire-older-than-days applies to --batch-layout "
                "expiry only"
            )
        if (
            args.expire_older_than_days is not None
            and args.expire_older_than_days <= 0
        ):
            # a negative horizon puts the cutoff in the FUTURE — one
            # typo away from deleting the whole history in a single
            # maintenance run
            ap.error("--expire-older-than-days must be > 0")
        if args.expire_upto is not None and not args.batch_layout:
            # checkpoint expiry is keep-last-N snapshot retention, a
            # different semantic — silently ignoring the horizon flag
            # would delete snapshots the user did not ask to delete
            ap.error(
                "--expire-upto applies to --batch-layout expiry only; "
                "checkpoint snapshot retention uses --keep-last"
            )
        _run_maintenance(args, stop_session)
        return
    if args.mix_source:
        if args.out is None:
            ap.error("--out is required for --mix-source")
        if args.curate or args.rank_entities:
            ap.error(
                "--mix-source is its own mode — run --curate/"
                "--rank-entities separately"
            )
        # parse + validate EVERY spec before any Spark session starts
        specs: dict[str, tuple[str, float]] = {}
        for raw in args.mix_source:
            try:
                name, rest = raw.split("=", 1)
                path, w = rest.rsplit("@", 1)
                weight = float(w)
            except ValueError:
                ap.error(
                    f"bad --mix-source {raw!r}: expected NAME=PATH@WEIGHT"
                )
            if not name or not path:
                ap.error(f"bad --mix-source {raw!r}: empty name or path")
            if name in specs:
                ap.error(f"duplicate --mix-source name {name!r}")
            if not (weight > 0 and weight == weight and weight != float("inf")):
                ap.error(
                    f"--mix-source {name!r}: weight must be positive "
                    f"finite, got {w}"
                )
            specs[name] = (path, weight)
        tag_cols = [c.strip() for c in args.mix_tag_cols.split(",")]
        if (
            len(tag_cols) != 2
            or not all(tag_cols)
            or tag_cols[0] == tag_cols[1]
        ):
            ap.error(
                "--mix-tag-cols must be two DISTINCT comma-separated "
                f"names, got {args.mix_tag_cols!r}"
            )
        _run_mix(args, specs, tag_cols, stop_session)
        return
    if args.rank_entities:
        for req in ("edges", "out"):
            if getattr(args, req) is None:
                ap.error(f"--{req} is required for --rank-entities")
        _run_rank_entities(args, stop_session)
        return
    if args.curate:
        for req in ("pages", "out"):
            if getattr(args, req) is None:
                ap.error(f"--{req} is required for --curate")
        if args.decontam_report and not args.decontam:
            ap.error("--decontam-report requires --decontam")
        if (
            args.substring_dedup is not None
            and args.substring_dedup < args.substring_ngram
        ):
            # fail fast at argparse time — the pipeline would only
            # raise this after the Spark session is up and pages read
            ap.error(
                f"--substring-dedup ({args.substring_dedup}) must be "
                f">= --substring-ngram ({args.substring_ngram}): "
                "shorter runs carry no complete anchor gram"
            )
        _run_curation(args, stop_session)
        return
    for req in ("pages", "gazetteer", "out"):
        if getattr(args, req) is None:
            ap.error(f"--{req} is required for a pipeline run")

    # absolute imports: this file is also submitted as a bare script path
    # (spark-submit --py-files engine.zip .../__main__.py), where relative
    # imports have no package context
    from ner_linking_demo_spark.plans.pipeline import (
        run_pipeline,
        verify_invariants,
    )
    from ner_linking_demo_spark.session import get_spark

    spark = get_spark(app_name="kg-construct")
    from pyspark.sql import functions as _F

    pages = _load_pages(spark, args)
    # invalid rows (e.g. a corrupt JSONL line = all-NULL row) must not
    # reach the matcher: NULL text kills the tokenizer task-side, and a
    # page without identity can't be a triple subject
    pages = pages.filter(
        _F.col("url").isNotNull()
        & (
            _F.col("html" if args.from_html else "text").isNotNull()
        )
    )
    gaz = pd.read_csv(args.gazetteer, sep="\t", dtype={"code": str})

    from_html = args.from_html
    input_sig = args.input_sig
    if args.dedup_pages:
        # web corpora are full of boilerplate duplicates: drop them BEFORE
        # paying NER/linking compute. One deterministic representative per
        # exact/near duplicate cluster survives.
        from pyspark.sql import functions as F

        from ner_linking_demo_spark.plans.corpus_pipeline import (
            run_corpus_pipeline,
        )

        if from_html:
            # dedup needs text: derive it HERE (and only once — the
            # pipeline then consumes the derived column directly)
            from ner_linking_demo_spark.functions.html_extract import (
                extract_text_expr,
            )

            pages = pages.withColumn("text", extract_text_expr("html"))
            from_html = False
        # NULL text would collapse into one md5(NULL) dedup partition and
        # crash shingling; such pages are invalid input — drop them
        pages = pages.filter(F.col("text").isNotNull())
        # the url string itself is the dedup/CC node id: a 64-bit hash
        # id collides with statistical certainty at 10^12 pages and a
        # collision can silently drop a distinct page as a near-dup
        # cluster "loser" (connected_components casts ids to string
        # anyway, and representative selection only needs a total order)
        docs = pages.select(
            F.col("url").alias("doc_id"), "url", "text"
        )
        # kept is url-sized: materialize once instead of re-running the
        # dedup window + semi-join for every downstream action
        kept = (
            run_corpus_pipeline(
                spark, docs, near_dup=True, collect_stats=False
            )
            .kept.select("url")
            .localCheckpoint(eager=True)
        )
        pages = pages.join(kept, "url", "left_semi")
        # the flag changes pipeline INPUT: fold it into the resume
        # signature so toggling it never resumes stale snapshots
        input_sig = f"{input_sig or 'pages-auto'}|dedup-pages"

    res = run_pipeline(
        spark,
        pages,
        gaz,
        k=args.k,
        checkpoint_dir=args.checkpoint,
        num_partitions=args.partitions,
        input_sig=input_sig,
        from_html=from_html,
    )
    for name, df in (
        ("triples", res.triples),
        ("entities", res.entities),
        ("edges", res.edges),
    ):
        df.write.mode("overwrite").parquet(f"{args.out}/{name}")
    print("invariants:", verify_invariants(res))
    if stop_session:  # False for in-process (test) callers sharing a session
        spark.stop()


def _load_pages(spark, args):
    """Shared pages loader: parquet dir / table name / WARC archive,
    with the same auto-detection for the KG and curation paths."""
    fmt = args.pages_format
    if fmt == "auto":
        if args.pages.endswith((".warc", ".warc.gz")):
            fmt = "warc"
        elif args.pages.endswith((".jsonl", ".jsonl.gz")):
            # bare .json is NOT auto-mapped: a pretty-printed JSON file
            # read line-delimited yields one corrupt record per line;
            # force line-delimited reading with --pages-format jsonl
            fmt = "jsonl"
        elif (os.path.exists(args.pages) or args.pages.endswith(".parquet")
              or "/" in args.pages):
            fmt = "parquet"
        else:
            fmt = "table"
    if fmt == "warc":
        from ner_linking_demo_spark.sources.warc import pages_from_warc

        return pages_from_warc(spark, args.pages)
    if fmt == "jsonl":
        # Dolma/RedPajama-style JSON-lines: an EXPLICIT schema keeps
        # the reader a single pass (no sampling inference job), prunes
        # to the columns the pipelines use, and makes a corrupt line a
        # NULL row instead of a schema fork. .gz decompresses per file
        # — file-grain parallelism, same as the WARC source. Canonical
        # Dolma records key on `id` with no top-level url — coalesce it
        # into the url seat so doc identity survives either layout.
        from pyspark.sql import functions as F

        raw = spark.read.schema(
            "id string, url string, text string, html string"
        ).json(args.pages)
        return raw.select(
            F.coalesce("url", "id").alias("url"), "text", "html"
        )
    if fmt == "parquet":
        return spark.read.parquet(args.pages)
    return spark.read.table(args.pages)


def _run_mix(
    args,
    specs: dict[str, tuple[str, float]],
    tag_cols: list[str],
    stop_session: bool,
) -> None:
    """Mixture-assembly mode: weighted parquet sources -> one mixture
    parquet tagged (source, copy), plus a per-source row-count summary
    on stdout. Membership is deterministic (operators/mixing.py), so
    re-running with the same spec reproduces the identical mixture."""
    from pyspark.sql import functions as F

    from ner_linking_demo_spark.operators.mixing import mix_corpora
    from ner_linking_demo_spark.session import get_spark

    spark = get_spark(app_name="corpus-mix")
    try:
        sources = {
            name: (spark.read.parquet(path), weight)
            for name, (path, weight) in specs.items()
        }
        source_col, copy_col = (c.strip() for c in tag_cols)
        mixed = mix_corpora(
            sources,
            seed=args.mix_seed,
            id_col=args.mix_id_col,
            source_col=source_col,
            copy_col=copy_col,
        )
        out = f"{args.out}/mixture"
        mixed.write.mode("overwrite").parquet(out)
        counts = {
            r[source_col]: r["n"]
            for r in spark.read.parquet(out)
            .groupBy(source_col)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        for name in specs:
            print(f"mixture[{name}]: {counts.get(name, 0)} rows")
        print(f"mixture: {sum(counts.values())} rows -> {out}")
    finally:
        if stop_session:
            spark.stop()


def _run_rank_entities(args, stop_session: bool) -> None:
    """Graph-analytics mode: KG edges parquet -> (node, rank) parquet,
    ranks descending — the entity-importance pass a KG consumer
    ranks/prunes with, reachable from the deployment surface."""
    from ner_linking_demo_spark.operators.pagerank import entity_pagerank
    from ner_linking_demo_spark.session import get_spark

    spark = get_spark(app_name="kg-rank-entities")
    try:
        edges = spark.read.parquet(args.edges)
        ranks = entity_pagerank(
            edges,
            max_iter=args.max_iter,
            weight_by_assertions=args.weight_by_assertions,
        ).orderBy("rank", ascending=False)
        out = f"{args.out}/entity_ranks"
        ranks.write.mode("overwrite").parquet(out)
        n = spark.read.parquet(out).count()
        print(f"entity_ranks: {n} nodes -> {out}")
    finally:
        if stop_session:
            spark.stop()


def _gopher_thresholds() -> dict[str, float]:
    from ner_linking_demo_spark.functions.text_analysis import (
        GOPHER_REPETITION_THRESHOLDS,
    )

    return GOPHER_REPETITION_THRESHOLDS


def _run_curation(args, stop_session: bool) -> None:
    """Corpus-curation mode: the training-data pipeline as a first-class
    CLI surface — pages in, deduplicated kept corpus + packed training
    sequences out. Reuses the KG path's page loading (incl. WARC and
    --from-html) and the corpus composition's plan shape (annotate +
    filter = scan projection; exact dedup = one shuffle; near-dup = LSH
    banding + CC on pairs; packing = one repartition + iterator UDF)."""
    from pyspark.sql import functions as F

    from ner_linking_demo_spark.operators.packing import pack_sequences
    from ner_linking_demo_spark.plans.corpus_pipeline import (
        run_corpus_pipeline,
    )
    from ner_linking_demo_spark.session import get_spark

    spark = get_spark(app_name="corpus-curate")
    try:
        pages = _load_pages(spark, args)
        if args.from_html:
            from ner_linking_demo_spark.functions.html_extract import (
                extract_text_expr,
            )

            pages = pages.withColumn("text", extract_text_expr("html"))
        # corrupt-input rows (all-NULL) have no identity either — a
        # NULL doc_id breaks dedup keeper election and the line-dedup
        # join-back silently drops everything it can't match
        pages = pages.filter(
            F.col("text").isNotNull() & F.col("url").isNotNull()
        )
        docs = pages.select(F.col("url").alias("doc_id"), "text")
        lang_allow = (
            tuple(x.strip() for x in args.lang.split(",") if x.strip())
            if args.lang
            else None
        )
        quality_model = None
        if args.quality_model:
            from ner_linking_demo_spark.functions.quality_classifier import (
                QualityClassifier,
            )

            quality_model = QualityClassifier.load(args.quality_model)
            print(
                f"quality model: {args.quality_model} "
                f"(dim={quality_model.dim}, "
                f"fingerprint={quality_model.fingerprint()}, "
                f"threshold={args.model_threshold})"
            )
        res = run_corpus_pipeline(
            spark,
            docs,
            lang_allow=lang_allow,
            min_quality=args.min_quality,
            min_tokens=args.min_tokens,
            quality_model=quality_model,
            model_quality_threshold=args.model_threshold,
            eval_set=(
                spark.read.parquet(args.decontam)
                if args.decontam
                else None
            ),
            decontam_ngram=args.decontam_ngram,
            scrub_pii=args.scrub_pii,
            line_dedup=args.line_dedup,
            substring_dedup=args.substring_dedup,
            substring_ngram=args.substring_ngram,
            substring_max_df=(
                args.substring_max_df if args.substring_max_df > 0
                else None
            ),
            domain_blocklist=args.domain_blocklist,
            near_dup=True,
            jaccard_threshold=args.jaccard,
            repetition_thresholds=(
                _gopher_thresholds() if args.gopher_repetition else None
            ),
            # doc_id IS the page url in curation mode, so the host cap
            # derives domains from it directly
            domain_cap=args.domain_cap,
            url_col="doc_id",
            checkpoint_dir=args.checkpoint,
            # fold the pages source into the resume signature: the
            # default (schema-only) sig would silently resume another
            # dataset's snapshots when --pages changes under the same
            # --checkpoint
            input_sig=f"{args.input_sig or args.pages}|curate",
            persist_intermediate=args.checkpoint is None,
        )
        if args.decontam_report:
            # attribution report via the JOIN form (per-match rows) on
            # the raw docs — run BEFORE any filtering so the report
            # covers everything the scan-form gate could have dropped
            from ner_linking_demo_spark.operators.decontamination import (
                contamination_matches,
            )

            rpt = contamination_matches(
                docs,
                spark.read.parquet(args.decontam),
                n=args.decontam_ngram,
            )
            rpt.write.mode("overwrite").parquet(
                f"{args.out}/contamination"
            )
            n_rpt = spark.read.parquet(
                f"{args.out}/contamination"
            ).count()
            print(
                f"contamination report: {n_rpt} (doc, eval, ngram) "
                f"matches -> {args.out}/contamination"
            )
        kept = res.kept
        kept.write.mode("overwrite").parquet(f"{args.out}/kept")
        kept_pq = spark.read.parquet(f"{args.out}/kept")
        n_kept = kept_pq.count()
        print(f"kept: {n_kept} docs -> {args.out}/kept")
        if args.max_tokens > 0:
            # pack the PARQUET-read kept corpus (not the lineage):
            # token counts reuse the annotate stage's n_tokens column
            seqs = pack_sequences(
                kept_pq, max_tokens=args.max_tokens,
                tokens_col="n_tokens", num_partitions=args.partitions,
            )
            seqs.write.mode("overwrite").parquet(f"{args.out}/sequences")
            n_seq = spark.read.parquet(f"{args.out}/sequences").count()
            print(
                f"sequences: {n_seq} windows (<= {args.max_tokens} "
                f"tokens) -> {args.out}/sequences"
            )
    finally:
        if stop_session:
            spark.stop()


def _run_maintenance(args, stop_session: bool) -> None:
    from ner_linking_demo_spark.session import get_spark

    spark = get_spark(app_name="kg-maintain")
    # one try/finally so a failed maintenance job (e.g. resignature's
    # missing-text ValueError) still stops the session cleanly instead
    # of leaving the kg-maintain JVM to die with the traceback
    try:
        _dispatch_maintenance(spark, args)
    finally:
        if stop_session:
            spark.stop()


def _dispatch_maintenance(spark, args) -> None:
    from ner_linking_demo_spark.plans.catalog import CheckpointCatalog

    if args.maintain == "train-quality":
        from ner_linking_demo_spark.functions.quality_classifier import (
            DEFAULT_DIM,
            train_quality_classifier,
        )

        labeled = spark.read.parquet(args.labeled)
        clf, losses = train_quality_classifier(
            labeled,
            dim=args.train_dim or DEFAULT_DIM,
            epochs=args.train_epochs,
        )
        clf.save(args.model_out)
        print(
            f"train-quality: {args.labeled} -> {args.model_out} "
            f"(dim={clf.dim}, fingerprint={clf.fingerprint()}, "
            f"loss {losses[0]:.4f} -> {losses[-1]:.4f} "
            f"over {len(losses)} epochs)"
        )
        return
    if args.maintain == "resignature":
        from ner_linking_demo_spark.operators.incremental_dedup import (
            SignatureStore,
            resignature_store,
        )

        old = SignatureStore(spark, args.store)
        docs = spark.read.parquet(args.docs)
        new = resignature_store(
            spark, docs, old, args.new_root,
            n_hashes=args.n_hashes, bands=args.bands,
            shingle_size=args.shingle_size,
        )
        print(
            f"resignature {args.store} -> {args.new_root}: "
            f"params {new.params()}"
        )
        return
    if args.batch_layout:
        from ner_linking_demo_spark.plans.fs import BatchLayout

        lay = BatchLayout(spark, args.batch_layout)
        if args.maintain == "expire":
            if args.expire_upto is None and args.expire_older_than_days is None:
                raise SystemExit(
                    "--batch-layout with --maintain expire requires "
                    "--expire-upto <batch_id> or "
                    "--expire-older-than-days <days> (a retention horizon)"
                )
            if args.expire_older_than_days is not None:
                import time

                ts_ms = int(
                    (time.time() - args.expire_older_than_days * 86400)
                    * 1000
                )
                removed = lay.expire_before(ts_ms)
                print(
                    f"expire {args.batch_layout}: removed "
                    f"{len(removed)} partition(s) older than "
                    f"{args.expire_older_than_days} day(s)"
                )
            else:
                removed = lay.expire_upto(args.expire_upto)
                print(
                    f"expire {args.batch_layout}: removed "
                    f"{len(removed)} partition(s) <= {args.expire_upto}"
                )
        else:
            upto = lay.compact(
                target_file_bytes=args.target_file_mb * 1024 * 1024
            )
            print(f"compact {args.batch_layout}: upto batch {upto}")
        return
    cat = CheckpointCatalog(spark, args.checkpoint)
    if args.tables:
        tables = [t.strip() for t in args.tables.split(",") if t.strip()]
    else:
        tables = [
            n for n in cat.fs.list_names(cat.base)
            if not n.startswith("_") and cat._snapshots(n)
        ]
    for table in tables:
        if args.maintain == "expire":
            deleted = cat.expire_snapshots(table, keep_last=args.keep_last)
            print(f"expire {table}: deleted {len(deleted)}")
        else:
            cat.compact(
                table, target_file_bytes=args.target_file_mb * 1024 * 1024
            )
            print(f"compact {table}: -> {cat._read_pointer(table)['snapshot']}")


if __name__ == "__main__":
    main()
