"""Dedup family: planted-duplicate recall/precision, signature
determinism, and expression-vs-corpus-scale SimHash parity."""

from __future__ import annotations

import pytest

from ner_linking_demo_spark.operators import dedup as DD


@pytest.fixture(scope="module")
def corpus(spark):
    rows = []
    base = (
        "el paciente presenta una evolución favorable con tratamiento "
        "de la zona afectada y control periódico según protocolo"
    )
    for i in range(40):
        rows.append((i, f"{base} variante {i} " + "palabra " * (i % 5)))
    # exact duplicates of docs 0-4
    for i in range(5):
        rows.append((100 + i, rows[i][1]))
    # near duplicates of docs 10-14 (one token prefix edit)
    for i in range(5):
        rows.append((200 + i, "xx " + rows[10 + i][1]))
    # unrelated
    rows.append((300, "zzz qqq www eee rrr ttt yyy uuu"))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark, corpus):
    out = DD.exact_dedup(corpus).toPandas()
    dups = out[out["dup_count"] > 1]
    assert set(dups["doc_id"]) == {0, 1, 2, 3, 4}  # min-id representatives
    assert (dups["dup_count"] == 2).all()
    assert len(out) == corpus.count() - 5


def test_minhash_lsh_finds_planted_dups(spark, corpus):
    pairs = DD.minhash_lsh_pairs(
        corpus, n_hashes=16, bands=4, jaccard_threshold=0.5
    ).toPandas()
    found = {(a, b) for a, b in zip(pairs["id_a"], pairs["id_b"])}
    for i in range(5):
        assert (i, 100 + i) in found  # exact dups (jaccard 1.0)
        assert (10 + i, 200 + i) in found  # near dups
    assert pairs["jaccard"].between(0, 1).all()


def test_minhash_df_identical_texts_share_signature(spark, corpus):
    """Identical texts -> identical signatures (what makes exact copies
    collide in every band); distinct texts differ."""
    sigs = DD.minhash_signatures_df(corpus, n_hashes=8).toPandas()
    by_id = dict(zip(sigs["id"], sigs["sig"].map(tuple)))
    for i in range(5):
        assert by_id[i] == by_id[100 + i]
    assert by_id[0] != by_id[300]


def test_simhash_banding_guard(spark, corpus):
    # max_hamming=6 with 32/8=4 bands would silently miss qualifying pairs
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bands"):
        DD.simhash_neardup_pairs(corpus, max_hamming=6)


def test_simhash_near_dups_close(spark, corpus):
    # band_bits=4 -> 8 bands > max_hamming=6: pigeonhole guarantee holds
    pairs = DD.simhash_neardup_pairs(corpus, max_hamming=6, band_bits=4).toPandas()
    found = {(a, b) for a, b in zip(pairs["id_a"], pairs["id_b"])}
    for i in range(5):
        assert (i, 100 + i) in found
    # exact dups have hamming 0
    zero = pairs[pairs["hamming"] == 0]
    assert {(a, b) for a, b in zip(zero["id_a"], zero["id_b"])} >= {
        (i, 100 + i) for i in range(5)
    }


def test_ngram_jaccard_pairs(spark, corpus):
    pairs = DD.ngram_jaccard_pairs(
        corpus, block_col=None, n=4, threshold=0.9
    ).toPandas()
    found = {(a, b) for a, b in zip(pairs["id_a"], pairs["id_b"])}
    assert {(i, 100 + i) for i in range(5)} <= found
    assert (300, 301) not in found


def test_lsh_bucket_stats(spark, corpus):
    stats = DD.lsh_bucket_stats(corpus, n_hashes=16, bands=4).toPandas()
    assert len(stats) == 4
    assert (stats["max_bucket"] >= 2).all()  # planted dups collide


def test_lsh_bucket_stats_rejects_non_dividing_bands(spark, corpus):
    """bands=5 over 16 components would histogram only 15 of them — the
    banding minhash_lsh_pairs refuses, so the audit refuses it too."""
    with pytest.raises(ValueError, match="divide"):
        DD.lsh_bucket_stats(corpus, n_hashes=16, bands=5)


def test_simhash_df_parity_with_expression(spark, corpus):
    """Corpus-scale signature path == the expression form, including an
    empty document (groupBy would drop it; the left join keeps h=0)."""
    import pyspark.sql.functions as F

    with_empty = corpus.unionByName(
        spark.createDataFrame([(999, "")], ["doc_id", "text"])
    )
    expr = with_empty.select(
        "doc_id", DD.simhash64(F.col("text")).alias("h")
    ).toPandas()
    dfform = DD.simhash_signatures_df(with_empty).toPandas()
    a = dict(zip(expr["doc_id"], expr["h"]))
    b = dict(zip(dfform["id"], dfform["h"]))
    assert a == b
    assert b[999] == 0


def test_embedding_lsh_pairs_vs_blocked(spark):
    """LSH-blocked pairs == brute-force pairs filtered to the candidate
    condition (bucket hamming <= probe_bits); near-identical vectors are
    always recalled (same bucket). The wide row (40 planes x 64 dims,
    past the expression budget) runs the Arrow bucket form."""
    import numpy as np

    from ner_linking_demo_spark.operators import similarity as SIM

    for dim, n_planes, method in [(16, 8, "expr"), (64, 40, "pandas")]:
        rng = np.random.default_rng(11)
        mat = rng.standard_normal((80, dim)).astype(np.float32)
        mat[40:45] = mat[:5] + 0.001  # planted near-dups
        rows = [(i, [float(x) for x in mat[i]]) for i in range(80)]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        planes = SIM.hyperplanes(dim=dim, n_planes=n_planes)
        assert SIM.resolve_plane_method(planes) == method
        got = DD.embedding_neardup_pairs_lsh(
            df, planes, threshold=0.95, probe_bits=1
        ).toPandas()
        found = {(a, b) for a, b in zip(got["id_a"], got["id_b"])}
        for i in range(5):
            assert (i, 40 + i) in found
        # exact-candidate-set check vs numpy
        norms = np.linalg.norm(mat, axis=1)
        cos = (mat @ mat.T) / np.outer(norms, norms)
        buckets = ((mat.astype(np.float64) @ planes.T) > 0) @ (
            1 << np.arange(n_planes, dtype=np.int64)
        )
        expect = {
            (i, j)
            for i in range(80)
            for j in range(i + 1, 80)
            if cos[i, j] >= 0.95
            and bin(int(buckets[i]) ^ int(buckets[j])).count("1") <= 1
        }
        assert found == expect, method


# ---------------------------------------------------------------------------
# line-level dedup (CCNet-style)
# ---------------------------------------------------------------------------


def _line_docs(spark):
    rows = [
        (0, "unique zero\nsubscribe now\nshared tail"),
        (1, "unique one\nsubscribe now\nshared tail"),
        (2, "subscribe now\nunique two"),
        (3, "solo doc with one line"),
        (4, "repeat me\nrepeat me\nrepeat me"),   # within-doc dups
        (5, "\n\nunique five\n\n"),               # blank lines exempt
        (6, None),                                 # NULL text
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_lines_keeps_first_occurrence(spark):
    from ner_linking_demo_spark.operators.dedup import dedup_lines

    out = {
        r["doc_id"]: r
        for r in dedup_lines(_line_docs(spark)).collect()
    }
    # first occurrence = min (doc_id, pos): doc 0 keeps everything
    assert out[0]["text"] == "unique zero\nsubscribe now\nshared tail"
    assert out[0]["n_lines_removed"] == 0
    # later occurrences of both shared lines removed
    assert out[1]["text"] == "unique one"
    assert out[1]["n_lines_removed"] == 2
    assert out[2]["text"] == "unique two"
    assert out[3]["text"] == "solo doc with one line"
    # within-doc duplicates: first copy survives
    assert out[4]["text"] == "repeat me"
    assert out[4]["n_lines_removed"] == 2
    # blank lines are exempt (layout preserved), never deduped
    assert out[5]["text"] == "\n\nunique five\n\n"
    assert out[5]["n_lines_removed"] == 0
    # NULL text -> one empty (exempt) line, doc survives
    assert out[6]["text"] == "" and out[6]["n_lines"] == 1
    assert len(out) == 7


def test_dedup_lines_fully_removed_doc(spark):
    from ner_linking_demo_spark.operators.dedup import dedup_lines

    docs = spark.createDataFrame(
        [(0, "dup a\ndup b"), (1, "dup a\ndup b"), (2, "dup b")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_lines(docs).collect()}
    assert out[0]["text"] == "dup a\ndup b"
    # docs 1 and 2 lose every line but still come out (keep_empty)
    assert out[1]["text"] == "" and out[1]["n_lines_removed"] == 2
    assert out[2]["text"] == "" and out[2]["n_lines_removed"] == 1
    kept = dedup_lines(docs, keep_empty=False)
    assert sorted(r["doc_id"] for r in kept.collect()) == [0]


def test_dedup_lines_metachar_separator(spark):
    """sep is a LITERAL on both sides: '.' must not regex-split every
    character."""
    from ner_linking_demo_spark.operators.dedup import dedup_lines

    docs = spark.createDataFrame(
        [(0, "dup seg.unique a"), (1, "dup seg.unique b")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r for r in dedup_lines(docs, sep=".").collect()
    }
    assert out[0]["text"] == "dup seg.unique a"
    assert out[1]["text"] == "unique b"
    assert out[0]["n_lines"] == 2  # NOT one "line" per character


def test_dedup_lines_keep_empty_semantics(spark):
    """keep_empty=False drops HOLLOWED docs only: an originally empty
    (or blank-only) doc was never touched by dedup and always stays;
    a doc hollowed down to blank lines is dropped regardless of how
    many blanks it had."""
    from ner_linking_demo_spark.operators.dedup import dedup_lines

    docs = spark.createDataFrame(
        [
            (0, "dup x\ndup y"),      # keeper doc: keeps everything
            (1, "dup x\ndup y"),      # hollowed, no blanks
            (2, "dup x\n\n\ndup y"),  # hollowed, 2 blanks survive
            (3, "dup x\nown"),        # partially deduped -> stays
            (4, ""),                  # originally empty -> stays
            (5, "\n\n"),              # blank-only -> stays
            (6, None),                # NULL -> empty line -> stays
        ],
        "doc_id long, text string",
    )
    kept = {
        r["doc_id"]: r
        for r in dedup_lines(docs, keep_empty=False).collect()
    }
    # 1 AND 2 drop (hollowed, with or without surviving blanks);
    # the never-dedupable docs 4/5/6 all stay
    assert set(kept) == {0, 3, 4, 5, 6}
    assert kept[3]["text"] == "own"
    assert kept[4]["text"] == "" and kept[4]["n_lines_removed"] == 0
    assert kept[5]["text"] == "\n\n"
    # and with keep_empty=True the hollowed docs come back
    all_out = {
        r["doc_id"]: r for r in dedup_lines(docs).collect()
    }
    assert all_out[1]["text"] == ""
    assert all_out[2]["text"] == "\n"  # the two blanks, rejoined
    # schema is unchanged by the fix (no helper column leaks)
    assert dedup_lines(docs).columns == [
        "doc_id", "text", "n_lines", "n_lines_removed",
    ]


def test_dedup_lines_normalize_and_min_count(spark):
    from ner_linking_demo_spark.operators.dedup import dedup_lines

    docs = spark.createDataFrame(
        [(0, "Page 3 of 10\nkeep a"), (1, "page 7 of 10\nkeep b")],
        "doc_id long, text string",
    )
    # raw: the two page lines differ -> nothing removed
    raw = {r["doc_id"]: r for r in dedup_lines(docs).collect()}
    assert raw[0]["n_lines_removed"] == raw[1]["n_lines_removed"] == 0
    # normalized (lowercase, digits stripped): they collide; the
    # ORIGINAL text of the keeper is emitted, not the canonical form
    norm = {
        r["doc_id"]: r
        for r in dedup_lines(docs, normalize=True).collect()
    }
    assert norm[0]["text"] == "Page 3 of 10\nkeep a"
    assert norm[1]["text"] == "keep b"
    # min_count=3: pairs are no longer "duplicated enough"
    mc = {
        r["doc_id"]: r
        for r in dedup_lines(docs, normalize=True, min_count=3).collect()
    }
    assert mc[1]["n_lines_removed"] == 0


def test_dedup_lines_keeper_agg_is_payload_free(spark):
    """Plan shape: the keeper-election aggregate must be partial
    (map-side combine before the exchange) and must not carry the line
    text; only the join back and reassembly shuffle text."""
    from ner_linking_demo_spark.operators.dedup import dedup_lines

    plan = (
        dedup_lines(_line_docs(spark))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # partial agg: HashAggregate(keys=[h...], functions=[partial_min...
    assert "partial_min" in plan and "partial_count" in plan
    # at most three shuffles: keeper agg (payload-free), join back
    # (none when the keeper set broadcasts), single reassembly-and-
    # count groupBy — never an extra per-doc count pass
    assert plan.count("Exchange hashpartitioning") <= 3
