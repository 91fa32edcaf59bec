"""S3: gazetteer TSV CLI scan path — round-trip a TSV gazetteer through
the __main__ entrypoint to triples on disk (the only SURVEY §2.1 in-scope
source previously untested)."""

from __future__ import annotations

import pandas as pd

from ner_linking_demo_spark import __main__ as CLI
from ner_linking_demo_spark.sources import fixtures as FX


def test_cli_tsv_gazetteer_roundtrip(spark, tmp_path):
    gaz = FX.gen_gazetteer(n_codes=12)
    tsv = tmp_path / "gaz.tsv"
    gaz.to_csv(tsv, sep="\t", index=False)

    pages_dir = tmp_path / "pages"
    FX.pages_to_spark(
        spark, FX.gen_pages(n_pages=12, gazetteer=gaz)
    ).write.parquet(str(pages_dir))

    out = tmp_path / "kg"
    CLI.main(
        [
            "--pages", str(pages_dir),
            "--gazetteer", str(tsv),
            "--out", str(out),
            "--k", "3",
        ],
        stop_session=False,  # the pytest session fixture owns the session
    )
    import duckdb

    triples = duckdb.sql(f"SELECT * FROM '{out}/triples/*.parquet'").df()
    assert len(triples) > 0
    assert {"subj", "pred", "obj", "code", "rank"} <= set(triples.columns)
    # TSV string codes survive the round trip (codes are strings, F7)
    assert triples["code"].map(lambda c: isinstance(c, str)).all()
    edges = duckdb.sql(f"SELECT * FROM '{out}/edges/*.parquet'").df()
    assert len(edges) == len(edges.drop_duplicates(["src", "rel", "dst"]))


def test_cli_maintenance_expire_and_compact(spark, tmp_path):
    """--maintain expire/compact housekeep a real checkpoint dir produced
    by a pipeline run, and a resumed run afterwards still recomputes
    nothing."""
    import os

    from ner_linking_demo_spark.plans.catalog import CheckpointCatalog

    gaz = FX.gen_gazetteer(n_codes=12)
    tsv = tmp_path / "gaz.tsv"
    gaz.to_csv(tsv, sep="\t", index=False)
    pages_dir = tmp_path / "pages"
    FX.pages_to_spark(
        spark, FX.gen_pages(n_pages=10, gazetteer=gaz)
    ).write.parquet(str(pages_dir))

    ckpt = tmp_path / "ckpt"
    base = [
        "--pages", str(pages_dir), "--gazetteer", str(tsv),
        "--out", str(tmp_path / "kg"), "--checkpoint", str(ckpt),
        "--input-sig", "v1",
    ]
    CLI.main(base, stop_session=False)
    CLI.main(base, stop_session=False)  # second run: 2 snapshots? no —
    # resumed, so still 1 snapshot per table; force a second snapshot:
    cat = CheckpointCatalog(spark, str(ckpt))
    sig = cat._read_pointer("triples")["input_sig"]
    cat.write(cat.read("triples"), "triples", input_sig=sig)
    assert len(cat._snapshots("triples")) == 2

    CLI.main(
        ["--maintain", "expire", "--checkpoint", str(ckpt),
         "--keep-last", "1"],
        stop_session=False,
    )
    assert len(cat._snapshots("triples")) == 1

    CLI.main(
        ["--maintain", "compact", "--checkpoint", str(ckpt),
         "--tables", "triples", "--target-file-mb", "512"],
        stop_session=False,
    )
    snap = cat._read_pointer("triples")["snapshot"]
    files = [
        f for f in os.listdir(f"{ckpt}/triples/{snap}")
        if f.endswith(".parquet")
    ]
    assert len(files) == 1  # tiny table compacts to one full file

    # resume still intact after housekeeping
    lineage_before = len(cat.lineage())
    CLI.main(base, stop_session=False)
    resumed = [
        s for s in cat.lineage()[lineage_before:] if s.get("resumed")
    ]
    assert {"mentions", "linked", "triples", "edges"} <= {
        s["table"] for s in resumed
    }


def test_cli_dedup_pages(spark, tmp_path):
    """--dedup-pages: a duplicated page contributes its triples exactly
    once (one representative survives the pre-NER dedup)."""
    import duckdb

    gaz = FX.gen_gazetteer(n_codes=10)
    tsv = tmp_path / "gaz.tsv"
    gaz.to_csv(tsv, sep="\t", index=False)

    pages = FX.gen_pages(n_pages=8, gazetteer=gaz)
    dup = pages.iloc[[0]].copy()
    dup["url"] = ["https://dup.example/copy"]
    import pandas as pd

    pages2 = pd.concat([pages, dup], ignore_index=True)
    pages_dir = tmp_path / "pages"
    FX.pages_to_spark(spark, pages2).write.parquet(str(pages_dir))

    out = tmp_path / "kg"
    CLI.main(
        ["--pages", str(pages_dir), "--gazetteer", str(tsv),
         "--out", str(out), "--k", "3", "--dedup-pages"],
        stop_session=False,
    )
    urls = duckdb.sql(
        f"SELECT DISTINCT subj FROM '{out}/triples/*.parquet'"
    ).df()["subj"].tolist()
    # exactly one of the two duplicate pages contributed triples
    assert (pages.iloc[0]["url"] in urls) != (
        "https://dup.example/copy" in urls
    )
    assert len(urls) <= 8


def test_cli_dedup_pages_with_from_html(spark, tmp_path):
    """--dedup-pages + --from-html: text derives from html before dedup;
    a duplicated page still contributes triples exactly once."""
    import duckdb
    import pandas as pd
    import pyspark.sql.functions as F

    gaz = FX.gen_gazetteer(n_codes=10)
    tsv = tmp_path / "gaz.tsv"
    gaz.to_csv(tsv, sep="\t", index=False)

    pages = FX.gen_pages(n_pages=6, gazetteer=gaz)
    dup = pages.iloc[[0]].copy()
    dup["url"] = ["https://dup.example/copy"]
    pages2 = pd.concat([pages, dup], ignore_index=True)
    pages_dir = tmp_path / "pages"
    # text column nulled: only html carries content
    FX.pages_to_spark(spark, pages2).withColumn(
        "text", F.lit(None).cast("string")
    ).write.parquet(str(pages_dir))

    out = tmp_path / "kg"
    CLI.main(
        ["--pages", str(pages_dir), "--gazetteer", str(tsv),
         "--out", str(out), "--k", "3", "--dedup-pages", "--from-html"],
        stop_session=False,
    )
    urls = duckdb.sql(
        f"SELECT DISTINCT subj FROM '{out}/triples/*.parquet'"
    ).df()["subj"].tolist()
    assert (pages.iloc[0]["url"] in urls) != (
        "https://dup.example/copy" in urls
    )


def test_coarse_granularity_takes_reranker(spark, golden_pages, golden_gazetteer, tmp_path):
    """Coarse + reranker runs and links like fine + reranker; an unknown
    granularity (wrong case) is refused."""
    import pytest as _pytest

    from ner_linking_demo_spark.plans.pipeline import run_pipeline
    from ner_linking_demo_spark.sources.fixtures import pages_to_spark

    pages = pages_to_spark(spark, golden_pages.head(2))
    # coarse runs the fused plan, which takes the reranker too: its
    # triples equal the fine plan's
    key = ["subj", "pred", "obj", "code", "rank", "start", "end"]
    triples = {}
    for gran in ("fine", "coarse"):
        res = run_pipeline(
            spark, pages, golden_gazetteer, k=3,
            checkpoint_dir=str(tmp_path / gran),
            checkpoint_granularity=gran, reranker="crossencoder",
        )
        triples[gran] = sorted(
            tuple(r) for r in res.triples.select(*key).collect()
        )
    assert triples["coarse"] and triples["coarse"] == triples["fine"]
    with _pytest.raises(ValueError, match="granularity"):
        run_pipeline(
            spark, pages, golden_gazetteer, k=3,
            checkpoint_dir=str(tmp_path / "y"),
            checkpoint_granularity="Coarse",
        )


def test_cli_curate(spark, tmp_path):
    """--curate: pages in -> deduplicated kept corpus + packed training
    sequences out, no gazetteer needed; the planted duplicate page is
    dropped and every kept url lands in exactly one window."""
    import duckdb

    from ner_linking_demo_spark import __main__ as CLI
    from ner_linking_demo_spark.sources import fixtures as FX

    gaz = FX.gen_gazetteer(n_codes=10)
    pdf = FX.gen_pages(n_pages=25, gazetteer=gaz)[["url", "text"]]
    import pandas as pd

    pdf = pd.concat([pdf, pd.DataFrame([
        {"url": "probe://dup", "text": pdf.iloc[0]["text"]},
    ])], ignore_index=True)
    spark.createDataFrame(pdf).write.parquet(str(tmp_path / "pages"))

    out = tmp_path / "cur"
    CLI.main(
        ["--curate", "--pages", str(tmp_path / "pages"),
         "--out", str(out), "--min-tokens", "3", "--max-tokens", "128"],
        stop_session=False,
    )
    kept = duckdb.sql(
        f"SELECT doc_id FROM '{out}/kept/*.parquet'"
    ).df()["doc_id"].tolist()
    assert "probe://dup" not in kept  # exact dup dropped (url order)
    assert len(kept) == len(set(kept))
    packed = duckdb.sql(
        f"SELECT unnest(doc_ids) AS d FROM '{out}/sequences/*.parquet'"
    ).df()["d"].tolist()
    assert sorted(packed) == sorted(kept)  # every kept doc packed once


def test_cli_train_quality_then_curate_with_model(spark, tmp_path):
    """The full learned-quality loop from the deployment surface:
    --maintain train-quality trains + saves the classifier npz, then
    --curate --quality-model gates the corpus with it (spam pages
    dropped, clean pages kept, quality_prob materialized)."""
    import duckdb
    import pandas as pd

    clean = [
        "the study presents a thorough analysis of observed phenomena",
        "historical records describe the development of institutions",
        "researchers documented significant findings in the report",
        "the committee published detailed guidance for practitioners",
    ]
    spam = [
        "click here buy now cheap deals click here buy now",
        "win win win free money free money claim prize now",
        "best price best price discount discount buy buy buy",
        "limited offer act now limited offer act now act now",
    ]
    labeled = pd.DataFrame(
        {"text": clean + spam, "label": [1] * len(clean) + [0] * len(spam)}
    )
    spark.createDataFrame(labeled).write.parquet(str(tmp_path / "labeled"))
    model = str(tmp_path / "quality.npz")
    CLI.main(
        ["--maintain", "train-quality",
         "--labeled", str(tmp_path / "labeled"),
         "--model-out", model, "--train-dim", "4096"],
        stop_session=False,
    )

    pages = pd.DataFrame(
        {"url": [f"page://{i}" for i in range(len(clean + spam))],
         "text": clean + spam}
    )
    spark.createDataFrame(pages).write.parquet(str(tmp_path / "pages"))
    out = tmp_path / "cur"
    CLI.main(
        ["--curate", "--pages", str(tmp_path / "pages"),
         "--out", str(out), "--quality-model", model,
         "--max-tokens", "0"],
        stop_session=False,
    )
    kept = duckdb.sql(
        f"SELECT doc_id, quality_prob FROM '{out}/kept/*.parquet'"
    ).df()
    n_clean = len(clean)
    assert sorted(kept["doc_id"]) == [f"page://{i}" for i in range(n_clean)]
    assert (kept["quality_prob"] >= 0.5).all()


def test_cli_mix_mode(spark, tmp_path):
    """--mix-source NAME=PATH@WEIGHT assembles a deterministic mixture;
    re-running reproduces the identical (source, doc_id, copy) set, and
    malformed specs fail fast in argparse (no Spark session)."""
    import pytest
    from pyspark.sql import functions as F

    a = tmp_path / "a.parquet"
    b = tmp_path / "b.parquet"
    spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("ta"), F.col("id")).alias("text"),
    ).write.parquet(str(a))
    spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("tb"), F.col("id")).alias("text"),
    ).write.parquet(str(b))

    def run(out):
        CLI.main(
            [
                "--mix-source", f"main={a}@1.5",
                "--mix-source", f"aux={b}@0.4",
                "--mix-seed", "s4",
                "--out", str(out),
            ],
            stop_session=False,
        )
        return sorted(
            (r["source"], r["doc_id"], r["copy"])
            for r in spark.read.parquet(f"{out}/mixture").collect()
        )

    m1 = run(tmp_path / "o1")
    m2 = run(tmp_path / "o2")
    assert m1 == m2 and len(m1) > 0
    n_main = sum(1 for s, _, _ in m1 if s == "main")
    n_aux = sum(1 for s, _, _ in m1 if s == "aux")
    assert 260 <= n_main <= 340  # ~200 * 1.5
    assert 20 <= n_aux <= 60     # ~100 * 0.4

    # fail-fast argparse validation, no session started
    for bad in (
        ["--mix-source", "noweight=path", "--out", str(tmp_path / "x")],
        ["--mix-source", f"dup={a}@1", "--mix-source", f"dup={b}@1",
         "--out", str(tmp_path / "x")],
        ["--mix-source", f"z={a}@-2", "--out", str(tmp_path / "x")],
        ["--mix-source", f"z={a}@1"],  # missing --out
    ):
        with pytest.raises(SystemExit):
            CLI.main(bad, stop_session=False)


def test_cli_jsonl_pages(spark, tmp_path):
    """--pages accepts Dolma-style JSONL (.jsonl.gz auto-detected): the
    curate surface produces the same kept set as the parquet path on
    identical content; corrupt lines become NULL rows, not crashes."""
    import gzip
    import json

    rows = [
        {"url": f"https://a.example.com/p{i}",
         "text": f"documento numero {i} con palabras suficientes aqui"}
        for i in range(8)
    ]
    jl = tmp_path / "pages.jsonl.gz"
    with gzip.open(jl, "wt") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
        f.write("{corrupt json line\n")

    out1 = tmp_path / "o_jsonl"
    CLI.main(
        ["--curate", "--pages", str(jl), "--out", str(out1),
         "--min-tokens", "3", "--max-tokens", "64"],
        stop_session=False,
    )
    pq = tmp_path / "pages.parquet"
    spark.createDataFrame(
        [(r["url"], r["text"]) for r in rows], "url string, text string"
    ).write.parquet(str(pq))
    out2 = tmp_path / "o_pq"
    CLI.main(
        ["--curate", "--pages", str(pq), "--out", str(out2),
         "--min-tokens", "3", "--max-tokens", "64"],
        stop_session=False,
    )
    a = sorted(
        r["text"] for r in spark.read.parquet(f"{out1}/kept").collect()
    )
    b = sorted(
        r["text"] for r in spark.read.parquet(f"{out2}/kept").collect()
    )
    # the corrupt line becomes a NULL row and fails min_tokens; the 8
    # real docs come out identical to the parquet path
    assert a == b and len(a) == 8


def test_cli_decontam_report_requires_decontam(spark, tmp_path):
    import pytest

    with pytest.raises(SystemExit):
        CLI.main(
            ["--curate", "--pages", "x.parquet", "--out", str(tmp_path),
             "--decontam-report"],
            stop_session=False,
        )


def test_cli_jsonl_dolma_id_records(spark, tmp_path):
    """Canonical Dolma records (id, no top-level url) keep their
    identity: id coalesces into the url seat, so line dedup's join-back
    and dedup keeper election see non-null doc ids."""
    import gzip
    import json

    jl = tmp_path / "dolma.jsonl.gz"
    boiler = "please subscribe to the newsletter today"
    with gzip.open(jl, "wt") as f:
        for i in range(6):
            # vary by LETTERS, not digits: line-dedup normalizes with
            # digit stripping (CCNet "page 3 of 10" rule), so texts
            # differing only by a number are deliberately duplicates
            f.write(json.dumps({
                "id": f"dolma-{i}",
                "text": f"registro {'abcdef'[i] * 3} con palabras "
                        f"utiles\n{boiler}",
                "source": "cc",
            }) + "\n")
        f.write("{corrupt\n")

    out = tmp_path / "o_dolma"
    CLI.main(
        ["--curate", "--pages", str(jl), "--out", str(out),
         "--min-tokens", "3", "--max-tokens", "64", "--line-dedup"],
        stop_session=False,
    )
    kept = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{out}/kept").collect()
    }
    # all six docs survive with their dolma ids; boilerplate kept once
    assert set(kept) == {f"dolma-{i}" for i in range(6)}
    assert sum(1 for t in kept.values() if boiler in t) == 1
