"""Round-3 additions: multitype NER composition, norm_reduce guards,
BRAT dotted-filename doc_ids, selfcheck canonicalizer strictness, and
the j8 entry's planted unknown code (assert moved out of the query body
per the round-2 verdict)."""

import pandas as pd
import pytest

from ner_linking_demo_spark.operators.ner import (
    MultiTypeMentionProvider,
    TokenClassifierMentionProvider,
    detect_mentions,
)


class _FixedProvider:
    def __init__(self, mentions):
        self.mentions = mentions

    def find_mentions(self, text):
        return list(self.mentions)


def test_multitype_concat_and_sort():
    p1 = _FixedProvider([("X", 5, 8, "abc"), ("X", 0, 2, "ab")])
    p2 = _FixedProvider([("X", 0, 2, "ab")])
    mt = MultiTypeMentionProvider({"disease": p1, "procedure": p2})
    out = mt.find_mentions("irrelevant")
    # labels overridden by entity type; sorted by (start, end, label);
    # same (start, end) under DIFFERENT types is legal (reference keys
    # the dedup assert on (start, end, label))
    assert out == [
        ("disease", 0, 2, "ab"),
        ("procedure", 0, 2, "ab"),
        ("disease", 5, 8, "abc"),
    ]


def test_multitype_duplicate_assert():
    dup = _FixedProvider([("X", 0, 2, "ab"), ("X", 0, 2, "ab")])
    mt = MultiTypeMentionProvider({"disease": dup})
    with pytest.raises(ValueError, match="duplicate"):
        mt.find_mentions("x")


def test_multitype_matches_per_type_runs(spark):
    """The one-UDF multitype pass == running each type's provider
    separately and concatenating (the reference's per-type loop)."""
    from ner_linking_demo_spark.functions.token_classifier import (
        HashTokenClassifier,
    )

    pages = spark.createDataFrame(
        [("u1", "alpha beta gamma delta epsilon"), ("u2", "zeta eta theta")],
        "url string, text string",
    )
    pa = TokenClassifierMentionProvider()
    pb = TokenClassifierMentionProvider(
        classifier=HashTokenClassifier(salt="m2")
    )
    mt = detect_mentions(
        pages,
        provider=MultiTypeMentionProvider({"disease": pa, "procedure": pb}),
    )
    sep_a = detect_mentions(pages, provider=pa).collect()
    sep_b = detect_mentions(pages, provider=pb).collect()
    expected = sorted(
        [(r.url, "DISEASE", r.start, r.end, r.span) for r in sep_a]
        + [(r.url, "PROCEDURE", r.start, r.end, r.span) for r in sep_b]
    )
    got = sorted(
        (r.url, r.label, r.start, r.end, r.span) for r in mt.collect()
    )
    assert got == expected
    assert {r[1] for r in got} == {"DISEASE", "PROCEDURE"}


def test_norm_reduce_unknown_label_null(spark):
    from ner_linking_demo_spark.operators.norm_reduce import normalize_mentions

    gaz = pd.DataFrame(
        {
            "label": ["disease"],
            "code": ["1"],
            "term": ["flu"],
            "semantic_tag": ["disease"],
            "mainterm": [True],
            "language": ["en"],
        }
    )
    mentions = spark.createDataFrame(
        [("u", "SPAN", 0, 3, "flu"), ("u", "DISEASE", 4, 7, "flu")],
        "url string, label string, start int, end int, span string",
    )
    rows = {r.label: r.norm_code for r in normalize_mentions(mentions, gaz).collect()}
    assert rows["SPAN"] is None  # unknown label -> null code, no KeyError
    assert rows["DISEASE"] == "1"


def test_norm_reduce_duplicate_codes_deduped(spark):
    """Multi-synonym gazetteers repeat codes; the vocabulary must hold
    each code once (else prod/sum double-count it)."""
    from ner_linking_demo_spark.operators.norm_reduce import (
        normalize_mentions,
        reduce_mention_code,
    )

    gaz = pd.DataFrame(
        {
            "label": ["disease"] * 3,
            "code": ["7", "9", "7"],  # code 7 has two synonyms
            "term": ["flu", "cold", "influenza"],
            "semantic_tag": ["disease"] * 3,
            "mainterm": [True] * 3,
            "language": ["en"] * 3,
        }
    )
    mentions = spark.createDataFrame(
        [("u", "DISEASE", 0, 3, "flu bad")],
        "url string, label string, start int, end int, span string",
    )
    got = normalize_mentions(mentions, gaz).collect()[0].norm_code
    assert got == reduce_mention_code(["flu", "bad"], ["7", "9"], "prod")


def test_brat_dotted_filename_docid(spark, tmp_path):
    """doc_id = basename before the FIRST dot (reference
    basename.split('.')[0]): 'a.b.ann' -> 'a'."""
    from ner_linking_demo_spark.sources.brat import read_ann_lines

    f = tmp_path / "a.b.ann"
    f.write_text("T1\tDISEASE 0 3\tflu\n")
    rows = read_ann_lines(spark, str(tmp_path / "*.ann")).collect()
    assert [r.doc_id for r in rows] == ["a"]


def test_selfcheck_rejects_container_cells():
    """A raw array column must FAIL selfcheck locally (the driver's
    canonicalizer cannot sort list cells — round-2 j8 regression)."""
    import sys, os

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    from selfcheck import value_hash

    ok = pd.DataFrame({"a": [1, 2], "b": ["x", "y"]})
    assert value_hash(ok) == value_hash(ok.iloc[::-1])  # order-insensitive
    bad = pd.DataFrame({"a": [[1, 2], [3]]})
    with pytest.raises(TypeError, match="container"):
        value_hash(bad)


def test_j8_entry_unknown_code_counted(spark):
    """The j8 entry's planted unknown corpus code lands in not_found
    (was an assert inside the query body — an extra action per run)."""
    from ner_linking_demo_spark.operators.hierarchy import expand_parent_codes
    from ner_linking_demo_spark.plans.entry_queries import _harness_vocab_rows

    vocab = spark.createDataFrame(
        _harness_vocab_rows(), "code string, term string, parents array<string>"
    )
    corpus = spark.createDataFrame(
        [(c,) for c, _, _ in _harness_vocab_rows()] + [("999999",)],
        "code string",
    )
    _expanded, not_found = expand_parent_codes(corpus, vocab)
    assert [r.code for r in not_found.collect()] == ["999999"]


def test_token_ce_loss_matches_naive(spark):
    """Engine M8 loss == a naive per-word recomputation that never
    builds the masked piece-grain arrays (independent composition)."""
    import math

    from ner_linking_demo_spark.functions.fragments import surrogate_subtokenize
    from ner_linking_demo_spark.functions.matcher import DictionaryMatcher
    from ner_linking_demo_spark.functions.token_classifier import (
        HashTokenClassifier,
    )
    from ner_linking_demo_spark.functions.tokenization import words_with_offsets
    from ner_linking_demo_spark.operators.loss import token_ce_loss

    gaz = pd.DataFrame(
        {
            "label": ["disease"] * 2,
            "code": ["1", "2"],
            "term": ["hash join", "spill"],
            "semantic_tag": ["disease"] * 2,
            "mainterm": [True] * 2,
            "language": ["en"] * 2,
        }
    )
    texts = [
        "the hash join caused a spill on disk",
        "no entities here at all",
        "hash join hash join spill",
    ]
    pages = spark.createDataFrame(
        [(f"u{i}", t) for i, t in enumerate(texts)], "url string, text string"
    )
    row = token_ce_loss(pages, gaz).collect()[0]

    clf = HashTokenClassifier()
    matcher = DictionaryMatcher({"disease": ["hash join", "spill"]})
    n, sce, swce = 0, 0.0, 0.0
    for t in texts:
        words = words_with_offsets(t)
        covered = {}
        for _l, s, e, _t in matcher.find_mentions(t):
            for i, (_w, ws, we) in enumerate(words):
                if ws >= s and we <= e:
                    covered[i] = 0 if ws == s else 1
        for i, (w, _s, _e) in enumerate(words):
            g = covered.get(i, 2)
            # naive: first piece only, no mask arrays
            p = clf.piece_probs(surrogate_subtokenize(w)[0])
            ce = -math.log(p[g])
            n += 1
            sce += ce
            swce += ce * (1.0 if g == 1 else 2.0)
    assert row.n_active == n
    assert abs(row.mean_ce - round(sce / n, 6)) < 1e-9
    assert abs(row.weighted_mean_ce - round(swce / n, 6)) < 1e-9


def test_token_ce_loss_masks_continuations():
    """Continuation pieces carry IGNORE_VALUE and contribute nothing —
    the reference's boolean_mask semantics (tf/loss.py:24-31)."""
    from ner_linking_demo_spark.functions.fragments import surrogate_subtokenize
    from ner_linking_demo_spark.functions.matcher import DictionaryMatcher
    from ner_linking_demo_spark.functions.token_classifier import (
        HashTokenClassifier,
    )
    from ner_linking_demo_spark.operators.loss import masked_ce_partials

    matcher = DictionaryMatcher({"disease": []})
    clf = HashTokenClassifier()
    # 'extraordinarily' -> 4 pieces, only the first is active
    n, _s, _w = masked_ce_partials(
        ["extraordinarily long"], matcher, clf, surrogate_subtokenize
    )
    assert n == 2  # one active position per WORD, not per piece


def test_lsh_bucket_auto_method(spark):
    """The bucket picks expr within the interpreted budget and the Arrow
    matmul beyond it; both agree on bucket values."""
    from pyspark.sql import functions as F

    from ner_linking_demo_spark.operators import similarity as SIM

    def vecs(dim):
        rows = [(i, [float((i * 31 + j * 7) % 19 - 9) for j in range(dim)])
                for i in range(50)]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    df = vecs(8)
    planes_small = SIM.hyperplanes(dim=8, n_planes=8)      # 64 <= budget
    planes_wide = SIM.hyperplanes(dim=64, n_planes=40)     # 2560 > budget
    auto_small = SIM.prepare_index(df, planes_small)
    assert "MapInPandas" not in auto_small._jdf.queryExecution().toString() \
        and "ArrowEvalPython" not in auto_small._jdf.queryExecution().toString()
    auto_wide = SIM.prepare_index(vecs(64), planes_wide)
    assert "ArrowEvalPython" in auto_wide._jdf.queryExecution().toString() \
        or "BatchEvalPython" in auto_wide._jdf.queryExecution().toString()
    # value parity on the small planes: expr (auto) == pandas
    a = {r.vec_id: r.bucket for r in auto_small.collect()}
    b = {r.vec_id: r.b
         for r in df.select(
             "vec_id", SIM.lsh_bucket_udf(planes_small)(F.col("embedding")).alias("b")
         ).collect()}
    assert a == b


def test_html_extraction_byte_identity(spark):
    """Native (Catalyst substring/decode) extraction == the driver-side
    extractor (fixtures.extract_text_from_html) byte-for-byte over the
    whole generated corpus; fidelity counter is 0 and catches
    corruption."""
    import pyspark.sql.functions as F

    from ner_linking_demo_spark.functions import html_extract as HX
    from ner_linking_demo_spark.sources import fixtures as FX

    gaz = FX.gen_gazetteer(n_codes=15)
    pages = FX.gen_pages(n_pages=40, gazetteer=gaz, giant_every=7)
    df = FX.pages_to_spark(spark, pages)

    got = df.select(
        "url",
        "html",
        HX.extract_text_expr("html").alias("native"),
        "text",
    ).collect()
    assert len(got) == 40
    for r in got:
        assert r["native"] == r["text"], r["url"]  # byte-identical
        assert r["native"] == FX.extract_text_from_html(bytes(r["html"]))

    assert HX.verify_text_fidelity(df) == 0

    # corrupt one row's html -> exactly one violation, and NULL extraction
    bad = df.withColumn(
        "html",
        F.when(F.col("url") == got[0]["url"],
               F.lit(bytearray(b"<div>not ours</div>"))).otherwise(
            F.col("html")
        ),
    )
    assert HX.verify_text_fidelity(bad) == 1
    nulls = bad.filter(HX.extract_text_expr("html").isNull()).count()
    assert nulls == 1


def test_pipeline_from_html(spark):
    """from_html=True: pipeline over pages with NO text column (only raw
    html bytes) produces the same triples as the text-column run."""
    import pyspark.sql.functions as F

    from ner_linking_demo_spark.plans.pipeline import run_pipeline
    from ner_linking_demo_spark.sources import fixtures as FX

    gaz = FX.gen_gazetteer(n_codes=15)
    pages = FX.gen_pages(n_pages=12, gazetteer=gaz)
    df = FX.pages_to_spark(spark, pages)

    ref = run_pipeline(spark, df, gaz, k=3).triples
    got = run_pipeline(
        spark, df.withColumn("text", F.lit(None).cast("string")),
        gaz, k=3, from_html=True,
    ).triples
    key = ["subj", "pred", "code", "start", "end", "rank"]
    assert {tuple(r) for r in got.select(*key).collect()} == {
        tuple(r) for r in ref.select(*key).collect()
    }


def test_fused_link_partition_with_zero_mentions(spark):
    """A partition whose pages contain NO mentions must yield a typed
    empty Arrow batch — regression: the float64-default empty frame
    crashed serialization of the array<string> codes column
    ("NumPyConverter doesn't implement list<string>")."""
    from ner_linking_demo_spark.functions.embedder import HashEmbedder
    from ner_linking_demo_spark.operators.linking import (
        build_indexes,
        detect_and_link,
    )
    from ner_linking_demo_spark.sources import fixtures as FX

    gaz = FX.gen_gazetteer(n_codes=8)
    pdf = FX.gen_pages(n_pages=2, gazetteer=gaz)
    pdf.loc[pdf.index[0], "text"] = "sin menciones conocidas aquí."
    pdf.loc[pdf.index[0], "html"] = FX.wrap_html(
        "sin menciones conocidas aquí."
    )
    df = FX.pages_to_spark(spark, pdf).repartition(4)

    emb = HashEmbedder()
    idx = build_indexes(gaz, k=3, embedder=emb)
    out = detect_and_link(df, gaz, idx, k=3, embedder=emb)
    assert out.count() >= 0  # serialization survives typed-empty batches
    only_empty = detect_and_link(
        FX.pages_to_spark(spark, pdf.iloc[:1]), gaz, idx, k=3, embedder=emb
    )
    assert only_empty.count() == 0
    assert [f.name for f in only_empty.schema.fields] == [
        "url", "start", "end", "label", "span", "codes", "scores"
    ]


def test_fused_plan_observation_metrics(spark, tmp_path):
    """No-checkpoint runs expose runtime counters via CollectMetrics —
    values equal actual counts, no extra jobs; checkpointed runs report
    {} (their counters live in the catalog lineage)."""
    from ner_linking_demo_spark.plans.pipeline import run_pipeline
    from ner_linking_demo_spark.sources import fixtures as FX

    gaz = FX.gen_gazetteer(n_codes=12)
    pages = FX.pages_to_spark(spark, FX.gen_pages(n_pages=15, gazetteer=gaz))
    res = run_pipeline(spark, pages, gaz, k=3)
    res.triples.write.format("noop").mode("overwrite").save()
    m = res.metrics()
    assert m["pages_in"] == 15
    assert m["linked_out"] == res.linked.count()

    ck = run_pipeline(
        spark, pages, gaz, k=3, checkpoint_dir=str(tmp_path / "ck")
    )
    assert ck.metrics() == {}
