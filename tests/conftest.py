from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
REFERENCE_DIR = "/root/reference"
TESTDATA_SF001 = os.environ.get("NLDS_TESTDATA", "/root/testdata/sf0.001")
# the scale factor the driver's oracle gate (tools/selfcheck.py) runs at
ORACLE_SF_DIR = os.path.join(os.path.dirname(TESTDATA_SF001), "sf0.01")


@pytest.fixture(scope="session")
def spark():
    from ner_linking_demo_spark.session import get_spark

    s = get_spark(
        app_name="nlds-tests", master="local[8]", shuffle_partitions=8
    )
    yield s
    s.stop()


@pytest.fixture
def fail_publish(monkeypatch):
    """``fail_publish(staged, before=None)``: every publish whose staging
    path contains ``staged`` raises after its staging write, before its
    rename, on either control plane (``LocalFS`` or ``HadoopFS``;
    ``before()`` runs first, on the publishing thread).
    ``monkeypatch.undo()`` lifts the fault."""
    from ner_linking_demo_spark.plans.fs import HadoopFS, LocalFS

    def install(staged, before=None):
        for fs in (LocalFS, HadoopFS):
            def faulty(self, src, dst, _rename=fs.rename):
                if staged in src:
                    if before is not None:
                        before()
                    raise IOError(f"injected publish fault: {staged}")
                return _rename(self, src, dst)

            monkeypatch.setattr(fs, "rename", faulty)

    return install


@pytest.fixture(scope="session")
def assert_matches_oracle():
    """``check(spark_df, sql)``: compare a Spark result with a DuckDB query
    over the ORACLE_SF_DIR tables exactly as the driver gate does — row
    count, sorted column names and the order-insensitive value hash."""
    import duckdb

    from tools.selfcheck import TABLES, value_hash

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{ORACLE_SF_DIR}/{t}.parquet'"
        )

    def check(spark_df, sql: str) -> None:
        got = spark_df.toPandas()
        want = con.execute(sql).df()
        assert len(got) == len(want)
        assert sorted(got.columns) == sorted(want.columns)
        assert value_hash(got) == value_hash(want)

    yield check
    con.close()


@pytest.fixture(scope="session")
def clinical_case() -> str:
    with open(os.path.join(DATA_DIR, "clinical_case.txt")) as f:
        return f.read()


@pytest.fixture(scope="session")
def gold_mentions() -> pd.DataFrame:
    df = pd.read_csv(os.path.join(DATA_DIR, "gold_mentions.tsv"), sep="\t")
    return df


@pytest.fixture(scope="session")
def golden_gazetteer(gold_mentions) -> pd.DataFrame:
    """Synthetic gazetteer seeded with the clinical-case golden terms: each
    gold span becomes a gazetteer term under its gold label with its first
    gold code (reference `server/data/mentions.tsv` code lists)."""
    from ner_linking_demo_spark.sources.fixtures import gen_gazetteer

    extra: dict[str, list[tuple[str, str]]] = {"disease": [], "procedure": []}
    for r in gold_mentions.itertuples():
        first_code = str(r.code).strip("[]").split(",")[0].strip()
        extra[r.label.lower()].append((first_code, r.span))
    return gen_gazetteer(n_codes=40, extra_terms=extra)


@pytest.fixture(scope="session")
def golden_pages(clinical_case, golden_gazetteer) -> pd.DataFrame:
    from ner_linking_demo_spark.sources.fixtures import gen_pages

    return gen_pages(
        n_pages=40,
        gazetteer=golden_gazetteer,
        giant_every=17,
        extra_texts=[clinical_case],
    )
