"""S7 BRAT .ann source: parity vs the reference loaders on generated
fixture files (NER, Norm, de-ident variants)."""

from __future__ import annotations

import importlib.util
import os

import pytest

from ner_linking_demo_spark.sources import brat as B
from tests.conftest import REFERENCE_DIR

REF_LOAD = os.path.join(REFERENCE_DIR, "server/ner/src/utils/ner/load_data.py")


@pytest.fixture(scope="module")
def ref_load():
    if not os.path.exists(REF_LOAD):
        pytest.skip(f"reference loader not available: {REF_LOAD}")
    spec = importlib.util.spec_from_file_location("ref_load", REF_LOAD)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def ann_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("brat")
    # Norm-style: strict T/# pairs, one discontinuous annotation
    (d / "doc1.ann").write_text(
        "T1\tMORFOLOGIA_NEOPLASIA 10 20;25 31\tcarcinoma ductal\n"
        "#1\tAnnotatorNotes T1\t8500/3\n"
        "T2\tMORFOLOGIA_NEOPLASIA 40 49\tmelanoma\n"
        "#2\tAnnotatorNotes T2\t8720/3\n"
    )
    (d / "doc2.ann").write_text(
        "T1\tMORFOLOGIA_NEOPLASIA 0 7\tsarcoma\n"
        "#1\tAnnotatorNotes T1\t8800/3\n"
    )
    return d


def test_brat_ner_parity(spark, ref_load, tmp_path_factory):
    # NER-variant files contain ONLY T lines (the reference loader parses
    # every line as an annotation); the Spark parser filters on the tag,
    # so it also tolerates mixed files — parity is on the pure-NER shape
    d = tmp_path_factory.mktemp("brat_ner")
    (d / "doc1.ann").write_text(
        "T1\tMORFOLOGIA_NEOPLASIA 10 20;25 31\tcarcinoma ductal\n"
        "T2\tMORFOLOGIA_NEOPLASIA 40 49\tmelanoma\n"
    )
    (d / "doc2.ann").write_text(
        "T1\tMORFOLOGIA_NEOPLASIA 0 7\tsarcoma\n"
    )
    files = sorted(str(p) for p in d.glob("*.ann"))
    ref = ref_load.process_brat_ner(files)
    got = B.brat_ner_annotations(
        B.read_ann_lines(spark, str(d / "*.ann"))
    ).toPandas()
    key = ["doc_id", "text_ref", "start", "end"]
    assert sorted(map(tuple, got[key].values.tolist())) == sorted(
        map(tuple, ref[key].values.tolist())
    )
    # the discontinuous T1 exploded into two continuous rows
    assert len(got[(got.doc_id == "doc1") & (got.text_ref == "carcinoma ductal")]) == 2


def test_brat_norm_parity(spark, ref_load, ann_dir):
    files = sorted(str(p) for p in ann_dir.glob("*.ann"))
    ref = ref_load.process_brat_norm(files)
    got = B.brat_norm_annotations(
        B.read_ann_lines(spark, str(ann_dir / "*.ann"))
    ).toPandas()
    key = ["doc_id", "code", "text_ref", "start", "end"]
    assert sorted(map(tuple, got[key].values.tolist())) == sorted(
        map(tuple, ref[key].values.tolist())
    )


def test_brat_deident_parity(spark, ref_load, tmp_path):
    d = tmp_path
    (d / "g1.ann").write_text(
        "T1\tNOMBRE_SUJETO_ASISTENCIA 12 17\tPedro\n"
        "\n"
        "T2\tID_ASEGURAMIENTO 30 42;50 54\t12 3456 78\n"
    )
    ref = importlib.import_module  # noqa: F841 (clarity: ref loaded below)
    got = B.brat_deident_annotations(
        B.read_ann_lines(spark, str(d / "*.ann"))
    ).toPandas()
    spec = importlib.util.spec_from_file_location("ref_load2", REF_LOAD)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    expect = mod.process_de_ident_ner([str(d / "g1.ann")])
    key = ["doc_id", "text_ref", "type", "location"]
    assert sorted(map(tuple, got[key].values.tolist())) == sorted(
        map(tuple, expect[key].values.tolist())
    )
