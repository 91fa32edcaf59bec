"""Physical-plan property tests (the .explain contract the 100 TB posture
depends on). Full audit: tools/explain_audit.py."""

from __future__ import annotations

import re

from ner_linking_demo_spark.plans.pipeline import run_pipeline
from ner_linking_demo_spark.sources.fixtures import pages_to_spark


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _nodes(plan: str, name: str) -> int:
    return len(re.findall(rf"\(\d+\) {name}", plan))


def test_throughput_plan_shape(spark, golden_pages, golden_gazetteer):
    """The fused pages->linked plan must be Scan -> Project -> ONE Exchange
    -> ONE python stage; triples adds only a broadcast join."""
    pages = pages_to_spark(spark, golden_pages.head(5))
    res = run_pipeline(spark, pages, golden_gazetteer, k=3)
    p = _plan(res.linked)
    assert _nodes(p, "Exchange") == 1, p
    assert _nodes(p, "MapInPandas") + _nodes(p, "PythonMapInArrow") == 1, p
    pt = _plan(res.triples)
    assert "BroadcastHashJoin" in pt, pt
    assert _nodes(pt, "Exchange") + _nodes(pt, "BroadcastExchange") <= 2, pt


def test_checkpointed_plan_prunes_pages_columns(
    spark, golden_pages, golden_gazetteer
):
    """The NER stage must read only (url, text) from pages — html/warc_ts
    pruned before the UDF."""
    from ner_linking_demo_spark.operators.ner import detect_mentions

    pages = pages_to_spark(spark, golden_pages.head(5))
    p = _plan(detect_mentions(pages, golden_gazetteer))
    udf_input = p.split("MapInPandas")[1][:300]
    assert "html" not in udf_input and "warc_ts" not in udf_input


def test_lsh_pair_join_never_shuffles_text(spark):
    """Round-1 verdict scale-killer: the MinHash-LSH banding explode, the
    bucket-size aggregation, and the bucket self-join must carry only
    (id, band, bucket) — never the document text. Text may appear solely
    in the scan->UDF signature stage and the final by-id shingle joins."""
    from ner_linking_demo_spark.operators import dedup as DD

    docs = spark.createDataFrame(
        [(i, f"w{i} common tokens here for doc {i}") for i in range(20)],
        "doc_id long, text string",
    )
    plan = _plan(DD.minhash_lsh_pairs(docs))
    # every Exchange block: its output schema must not contain text unless
    # it is one of the two id-keyed shingle-set joins (sh_a / sh_b)
    for block in re.split(r"\(\d+\) ", plan):
        if block.startswith("Exchange") and "text#" in block:
            raise AssertionError(f"text rides a shuffle:\n{block}")


def test_no_shuffle_plan_when_layout_trusted(
    spark, golden_pages, golden_gazetteer
):
    """num_partitions=0 => trust the input layout: ZERO exchanges before
    the fused UDF (the storage-aligned 100 TB run skips the corpus
    re-shuffle entirely)."""
    from ner_linking_demo_spark.functions.embedder import HashEmbedder
    from ner_linking_demo_spark.operators.linking import (
        build_indexes,
        detect_and_link,
    )

    pages = pages_to_spark(spark, golden_pages.head(5))
    linked = detect_and_link(
        pages,
        golden_gazetteer,
        build_indexes(golden_gazetteer, k=3),
        k=3,
        embedder=HashEmbedder(),
        num_partitions=0,
    )
    p = _plan(linked)
    assert _nodes(p, "Exchange") == 0, p
    # and the result is identical to the shuffled plan
    shuffled = detect_and_link(
        pages, golden_gazetteer, build_indexes(golden_gazetteer, k=3), k=3,
        embedder=HashEmbedder(), num_partitions=4,
    )
    a = linked.toPandas().sort_values(["url", "start", "label"]).reset_index(drop=True)
    b = shuffled.toPandas().sort_values(["url", "start", "label"]).reset_index(drop=True)
    assert a[["url", "start", "end", "label", "span"]].equals(
        b[["url", "start", "end", "label", "span"]]
    )


def test_driver_registry_and_bench_references_resolve():
    """The driver registry holds exactly the 50 uniquely named entries
    (the driver checks the first 50), every oracle belongs to one of
    them, and every ``EQ.<name>`` and hard-coded query name in bench.py,
    bench_extra.py and tools/explain_audit.py still resolves — so a
    deletion cannot silently break the frozen bench."""
    import ast
    import os

    from ner_linking_demo_spark.plans import entry_queries as EQ

    names = [qd.name for qd in EQ.QUERIES]
    assert len(names) == 50 and len(set(names)) == 50
    assert list(EQ.queries()) == names
    assert set(EQ.oracle_sql()) <= set(EQ.queries())

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for rel in ("bench.py", "bench_extra.py", "tools/explain_audit.py"):
        tree = ast.parse(open(os.path.join(root, rel)).read())
        attrs = {
            n.attr
            for n in ast.walk(tree)
            if isinstance(n, ast.Attribute)
            and isinstance(n.value, ast.Name)
            and n.value.id == "EQ"
        }
        assert attrs, rel
        missing = sorted(a for a in attrs if not hasattr(EQ, a))
        assert not missing, (rel, missing)
        # `for qname in [...]` lists index EQ.queries() by name
        listed = [
            elt.value
            for n in ast.walk(tree)
            if isinstance(n, ast.For) and isinstance(n.iter, ast.List)
            for elt in n.iter.elts
            if isinstance(elt, ast.Constant) and isinstance(elt.value, str)
        ]
        assert not sorted(set(listed) - set(names)), (rel, listed)
        if rel == "bench.py":
            assert len(listed) == 12, listed


def test_commit_protocol_lives_only_in_fs():
    """Renames and writes into a staging path occur only in plans/fs.py,
    whose ``publish`` is the package's one commit protocol: a new writer
    calls it instead of growing a second protocol."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    pkg = root / "ner_linking_demo_spark"
    home = pkg / "plans" / "fs.py"
    found = []
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
            ):
                continue
            name = node.func.attr
            receiver = ast.unparse(node.func.value)
            args = " ".join(
                ast.unparse(a)
                for a in [*node.args, *(kw.value for kw in node.keywords)]
            )
            is_rename = name == "rename" or (
                receiver in ("os", "shutil") and name in ("replace", "move")
            )
            is_staging_write = "staging" in args and (
                name == "write_text" or ".write" in f".{receiver}"
            )
            if is_rename or is_staging_write:
                found.append((path, node.lineno))
    assert found and {p for p, _ in found} == {home}, found


def _unset_branch_knobs(root) -> set[tuple[str, str]]:
    """(module.function, parameter) for every defaulted parameter of a
    public top-level package function that an ``if`` or conditional
    expression of its body reads and that no call outside ``tests/``
    sets. Calls match by function name alone; one setting the parameter
    by keyword, by position, or through a ``**`` splat counts."""
    import ast

    pkg = root / "ner_linking_demo_spark"
    knobs = {}
    for path in sorted(pkg.rglob("*.py")):
        mod = ".".join(path.relative_to(pkg).with_suffix("").parts)
        for fn in ast.parse(path.read_text()).body:
            if not isinstance(fn, ast.FunctionDef) or fn.name[0] == "_":
                continue
            a = fn.args
            pos = [*a.posonlyargs, *a.args]
            first = len(pos) - len(a.defaults)
            defaulted = {p.arg: i for i, p in enumerate(pos) if i >= first}
            defaulted.update(
                (p.arg, None)
                for p, d in zip(a.kwonlyargs, a.kw_defaults)
                if d is not None
            )
            read = {
                n.id
                for node in ast.walk(fn)
                if isinstance(node, (ast.If, ast.IfExp))
                for n in ast.walk(node.test)
                if isinstance(n, ast.Name)
            }
            for p in defaulted.keys() & read:
                knobs[(f"{mod}.{fn.name}", p)] = (fn.name, defaulted[p])
    by_kw, max_pos = set(), {}
    for path in sorted(root.rglob("*.py")):
        parts = path.relative_to(root).parts
        if parts[0] == "tests" or any(x.startswith(".") for x in parts):
            continue
        for call in ast.walk(ast.parse(path.read_text())):
            if not isinstance(call, ast.Call):
                continue
            name = getattr(call.func, "id", getattr(call.func, "attr", None))
            by_kw |= {(name, kw.arg or "**") for kw in call.keywords}
            n_pos = sum(not isinstance(x, ast.Starred) for x in call.args)
            max_pos[name] = max(max_pos.get(name, 0), n_pos)
    return {
        key
        for key, (name, i) in knobs.items()
        if not {(name, key[1]), (name, "**")} & by_kw
        and (i is None or max_pos.get(name, 0) <= i)
    }


def test_every_unset_knob_has_a_written_reason():
    """Each branch-selecting parameter that no production call sets is
    listed, with a reason, in COVERAGE.md "Knobs without a production
    setter": a new knob fails here until its reason is written down, and
    a deleted one until its row goes."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    doc = (root / "COVERAGE.md").read_text()
    table = doc.split("## Knobs without a production setter", 1)[1]
    table = table.split("\n## ", 1)[0]
    listed = {}
    for m in re.finditer(
        r"^\| `([\w.]+)\((\w+)\)` \|(.*)\|$", table, re.MULTILINE
    ):
        listed[(m.group(1), m.group(2))] = m.group(3).strip()
    assert all(listed.values()), listed
    assert _unset_branch_knobs(root) == set(listed)


def test_candidates_relation_comes_from_one_operator():
    """Every exploded-candidates relation is emitted by
    ``operators.linking.candidates_operator``: one ``mapInPandas`` call
    in the package names ``CANDIDATES_SCHEMA``, so a new generator adds a
    ``retrieve`` function instead of a second operator."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "ner_linking_demo_spark"
    found = []
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "mapInPandas"
                and any(
                    ast.unparse(a) == "CANDIDATES_SCHEMA"
                    for a in [*node.args, *(kw.value for kw in node.keywords)]
                )
            ):
                found.append((path.relative_to(pkg).as_posix(), node.lineno))
    assert len(found) == 1 and found[0][0] == "operators/linking.py", found


def test_incremental_store_match_written_once():
    """Both incremental near-dup variants end in one store match: the
    per-id top-N window (``Window.partitionBy``) appears in exactly one
    function of ``operators/incremental_dedup.py``."""
    import ast
    import pathlib

    path = (
        pathlib.Path(__file__).resolve().parents[1]
        / "ner_linking_demo_spark" / "operators" / "incremental_dedup.py"
    )
    owners = [
        fn.name
        for fn in ast.parse(path.read_text()).body
        if isinstance(fn, ast.FunctionDef)
        for node in ast.walk(fn)
        if isinstance(node, ast.Call)
        and ast.unparse(node.func) == "Window.partitionBy"
    ]
    assert owners == ["_match_against_store"], owners


def test_probe_search_topk_written_once():
    """LSH, IVF and IVF-SQ8 search end in one probe join + top-k: the
    per-query window (``Window.partitionBy``) appears in exactly one
    top-level function across ``operators/similarity.py`` and
    ``operators/ivf.py``."""
    import ast
    import pathlib

    ops = (
        pathlib.Path(__file__).resolve().parents[1]
        / "ner_linking_demo_spark" / "operators"
    )
    owners = [
        (name, fn.name)
        for name in ("similarity.py", "ivf.py")
        for fn in ast.parse((ops / name).read_text()).body
        if isinstance(fn, ast.FunctionDef)
        and any(
            isinstance(node, ast.Call)
            and ast.unparse(node.func) == "Window.partitionBy"
            for node in ast.walk(fn)
        )
    ]
    assert owners == [("similarity.py", "probe_topk")], owners


def test_bucketed_layout_written_once():
    """Every at-rest bucketed table (LSH index, IVF indexes, PageRank
    edges) goes through ``similarity.write_bucketed``: ``bucketBy``
    appears exactly once in the package."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "ner_linking_demo_spark"
    found = [
        (path.relative_to(pkg).as_posix(), node.lineno)
        for path in sorted(pkg.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "bucketBy"
    ]
    assert len(found) == 1 and found[0][0] == "operators/similarity.py", found


def test_environment_read_only_by_session():
    """The process environment is read only by ``session.py``, and only
    for its three deployment settings: an operator tuned by an
    environment variable is a knob no caller can see."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "ner_linking_demo_spark"
    readers, names = set(), set()
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            env = (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id == "os"
                and node.attr in ("environ", "getenv")
            ) or (
                isinstance(node, ast.ImportFrom)
                and node.module == "os"
                and {a.name for a in node.names} & {"environ", "getenv"}
            )
            if env:
                readers.add(path.relative_to(pkg).as_posix())
            if (
                path.name == "session.py"
                and isinstance(node, ast.Call)
                and ast.unparse(node.func) in ("os.environ.get", "os.getenv")
            ):
                names.add(ast.literal_eval(node.args[0]))
    assert readers == {"session.py"}, readers
    assert names == {
        "SPARK_GRAFT_CPUS", "SPARK_GRAFT_MASTER", "NLDS_DRIVER_MEM"
    }, names


def test_zipimport_patched_only_by_worker_hook():
    """Only ``_worker.py`` names ``zipimport``: the per-task archive
    refresh of Python workers is replaced in one place, which the
    package ``__init__`` installs inside worker tasks alone."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "ner_linking_demo_spark"
    found = {
        path.relative_to(pkg).as_posix()
        for path in sorted(pkg.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if (isinstance(node, ast.Name) and node.id == "zipimport")
        or (
            isinstance(node, ast.Import)
            and "zipimport" in {a.name for a in node.names}
        )
        or (isinstance(node, ast.ImportFrom) and node.module == "zipimport")
    }
    assert found == {"_worker.py"}, found


def test_curation_chain_lives_only_in_corpus_pipeline():
    """The streaming wrappers run the pre-dedup curation chain through
    ``plans.corpus_pipeline.curate_docs``: no module under streaming/
    calls or imports one of the chain's stages itself, so a second copy
    of the chain cannot grow back there."""
    import ast
    import pathlib

    stages = {
        "annotate_docs", "dedup_lines", "exact_substring_pairs",
        "gopher_repetition_filter", "contamination_flag",
        "classifier_quality_filter", "cap_per_domain",
        "filter_domain_blocklist",
    }
    root = pathlib.Path(__file__).resolve().parents[1]
    streaming = root / "ner_linking_demo_spark" / "streaming"
    found, chain_calls = [], []
    for path in sorted(streaming.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(
                    f, "id", None
                )
                if name in stages:
                    found.append((path.name, node.lineno, name))
                if name == "curate_docs":
                    chain_calls.append(path.name)
            elif isinstance(node, ast.ImportFrom):
                found += [
                    (path.name, node.lineno, a.name)
                    for a in node.names if a.name in stages
                ]
    assert found == []
    assert chain_calls == ["corpus.py"]
