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
    public top-level package function that selects a branch and that no
    call outside ``tests/`` sets.

    A parameter of a top-level package function selects a branch when an
    ``if`` or conditional expression of the body reads it, or when the
    body, a nested function included, passes it as a bare name (by
    keyword or by position) into a branch-selecting parameter of another
    package function. A call sets a parameter unless its value is a bare
    forward of the enclosing function's own unset knob. A ``**name``
    splat forwards only the enclosing function's ``**name``, that is the
    keywords its callers pass. Calls match by function name alone. A
    chain of unset forwards is reported once, at its outermost public
    function, where a caller would set it."""
    import ast

    pkg = root / "ner_linking_demo_spark"
    funcs, scopes = {}, []
    for path in sorted(root.rglob("*.py")):
        parts = path.relative_to(root).parts
        if parts[0] == "tests" or any(x.startswith(".") for x in parts):
            continue
        tree = ast.parse(path.read_text())
        if not path.is_relative_to(pkg):
            scopes.append((None, tree))
            continue
        mod = ".".join(path.relative_to(pkg).with_suffix("").parts)
        for node in tree.body:
            key = None
            if isinstance(node, ast.FunctionDef):
                key = f"{mod}.{node.name}"
                funcs[key] = node
            scopes.append((key, node))
    by_name, params, knob_like, kwarg = {}, {}, set(), {}
    for key, fn in funcs.items():
        by_name.setdefault(fn.name, []).append(key)
        a = fn.args
        pos = [p.arg for p in (*a.posonlyargs, *a.args)]
        params[key] = (pos, {*pos, *(p.arg for p in a.kwonlyargs)})
        knob_like |= {(key, p) for p in pos[len(pos) - len(a.defaults):]}
        knob_like |= {
            (key, p.arg)
            for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None
        }
        kwarg[key] = a.kwarg.arg if a.kwarg else None
    # (callee parameter, forwarded caller parameter or None) per passed
    # value; "**x" names the keyword x a call passes into ``**``
    passes = []
    for key, scope in scopes:
        mine = params[key][1] if key else set()
        for call in ast.walk(scope):
            if not isinstance(call, ast.Call):
                continue
            name = getattr(call.func, "id", getattr(call.func, "attr", None))
            for callee in by_name.get(name, []):
                if callee == key:
                    continue
                pos, names = params[callee]
                args = []
                for p, x in zip(pos, call.args):
                    if isinstance(x, ast.Starred):
                        break
                    args.append((p, x))
                args += [(kw.arg, kw.value) for kw in call.keywords]
                for p, x in args:
                    bare = x.id if isinstance(x, ast.Name) else None
                    if p is None:
                        if key and bare == kwarg[key]:
                            passes += [
                                ((callee, q), (key, f"**{q}")) for q in names
                            ]
                            knob_like |= {(key, f"**{q}") for q in names}
                        continue
                    if p not in names:
                        if not kwarg[callee]:
                            continue
                        p = f"**{p}"
                    src = (key, bare) if bare in mine else None
                    passes.append(((callee, p), src))
    forwards = [(dst, src) for dst, src in passes if src]

    def closure(grown, step):
        while new := {d for d, s in step if d not in grown and s in grown}:
            grown |= new
        return grown

    branch = closure(
        {
            (key, n.id)
            for key, fn in funcs.items()
            for node in ast.walk(fn)
            if isinstance(node, (ast.If, ast.IfExp))
            for n in ast.walk(node.test)
            if isinstance(n, ast.Name) and n.id in params[key][1]
        },
        [(s, d) for d, s in forwards],
    )
    set_ = closure(
        {d for d, s in passes if s is None or s not in knob_like}, passes
    )
    unset = (knob_like & branch) - set_
    knobs = {
        (key, p)
        for key, p in unset
        if funcs[key].name[0] != "_" and p in params[key][1]
    }
    # a knob an unset public knob feeds, directly or through unset
    # forwards, belongs to that knob's chain: report the outermost only
    inner = closure(
        {d for d, s in forwards if s in knobs},
        [(d, s) for d, s in forwards if s in unset],
    )
    return knobs - inner


def test_unset_knob_scan_follows_forwards_and_splats(tmp_path):
    """The knob scan on a synthetic package: a direct knob, forwards by
    keyword, by position and from a closure, and ``**`` splats. A
    forwarded chain is reported once, at its outermost function; a
    splat sets only the keywords its caller's callers pass; calls under
    ``tests/`` set nothing."""
    pkg = tmp_path / "ner_linking_demo_spark"
    pkg.mkdir()
    (pkg / "mod.py").write_text(
        "def direct(x, flag=False):\n"
        "    return 1 if flag else 0\n"
        "def _leaf(x, flag=False):\n"
        "    if flag:\n"
        "        return 1\n"
        "def keyword_leaf(x, flag=False):\n"
        "    if flag:\n"
        "        return 1\n"
        "def by_keyword(x, flag=False):\n"
        "    return keyword_leaf(x, flag=flag)\n"
        "def by_position(x, flag=False):\n"
        "    return _leaf(x, flag)\n"
        "def by_closure(x, flag=False):\n"
        "    def inner():\n"
        "        return _leaf(x, flag=flag)\n"
        "    return inner\n"
        "def set_leaf(x, flag=False):\n"
        "    if flag:\n"
        "        return 1\n"
        "def set_outer(x, flag=False):\n"
        "    return set_leaf(x, flag=flag)\n"
        "def splat_leaf(x, flag=False):\n"
        "    if flag:\n"
        "        return 1\n"
        "def by_splat(x, **kw):\n"
        "    return splat_leaf(x, **kw)\n"
        "def splat_set_leaf(x, flag=False):\n"
        "    if flag:\n"
        "        return 1\n"
        "def by_splat_set(x, **kw):\n"
        "    return splat_set_leaf(x, **kw)\n"
        "def dict_leaf(x, flag=False):\n"
        "    if flag:\n"
        "        return 1\n"
        "def by_dict(x):\n"
        "    opts = dict(flag=True)\n"
        "    return dict_leaf(x, **opts)\n"
    )
    (tmp_path / "main.py").write_text(
        "from ner_linking_demo_spark import mod\n"
        "mod.set_outer(1, flag=True)\n"
        "mod.by_splat(1)\n"
        "mod.by_splat_set(1, flag=True)\n"
        "mod.by_dict(1)\n"
    )
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_mod.py").write_text(
        "from ner_linking_demo_spark import mod\n"
        "mod.direct(1, flag=True)\n"
        "mod.by_keyword(1, flag=True)\n"
    )
    assert _unset_branch_knobs(tmp_path) == {
        ("mod.direct", "flag"),
        ("mod.by_keyword", "flag"),
        ("mod.by_position", "flag"),
        ("mod.by_closure", "flag"),
        ("mod.splat_leaf", "flag"),
        ("mod.dict_leaf", "flag"),
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


def test_mention_scan_written_once():
    """Every page -> mention loop is ``ner.scan_mentions``: across
    ``operators/``, the only top-level functions that call
    ``.find_mentions(`` are the scan and the M8 loss's training-label
    builder (not a page scan). Provider methods are classes, not
    top-level functions, so they do not count."""
    import ast
    import pathlib

    ops = (
        pathlib.Path(__file__).resolve().parents[1]
        / "ner_linking_demo_spark" / "operators"
    )
    owners = [
        (path.stem, fn.name)
        for path in sorted(ops.glob("*.py"))
        for fn in ast.parse(path.read_text()).body
        if isinstance(fn, ast.FunctionDef)
        and any(
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "find_mentions"
            for node in ast.walk(fn)
        )
    ]
    assert owners == [
        ("loss", "masked_ce_partials"), ("ner", "scan_mentions")
    ], owners


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
