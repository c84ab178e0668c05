import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from inclusionreferenceskg_spark.session import get_spark

    # 6g: ~350 tests share this session and many persist()/cache();
    # under 4g + co-tenant load the storage pressure produced a rare
    # one-off py4j failure in full-suite runs (graph_sssp oracle row)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "6g")
    session = get_spark("irkg-tests", master="local[4]", shuffle_partitions=8)
    yield session
    session.stop()


@pytest.fixture(scope="session")
def sf_dir():
    d = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(d):
        pytest.skip(f"testdata dir {d} not available")
    return d


@pytest.fixture(scope="session")
def cross_doc_pages(spark):
    """``make(edit_page1=True)`` -> the 8-page synthetic corpus (seed 42)
    with a cross-document L3 sentence: page 0's Article 2 gains "the
    records referred to in Article 2 of" page 1's title, and (optionally)
    page 1's Article 2 gains a sentence about "the record".  Each edit is
    a new paragraph 3, after the article's paragraph 2."""
    from inclusionreferenceskg_spark import synth

    edits = {
        0: ("3. The controller shall keep the records referred to in "
            f"Article 2 of {synth.doc_title(1)}."),
        1: "3. The processor shall keep the record.",
    }
    base = [list(r) for r in synth.synthesize_pages(spark, 8, seed=42)
            .collect()]

    def make(edit_page1: bool = True):
        rows = []
        for r in base:
            text, doc_id = r[3], r[6]
            if doc_id == 0 or (doc_id == 1 and edit_page1):
                marker = "\n\nArticle 3\n\n"
                assert text.count(marker) == 1
                text = text.replace(marker, f"\n\n{edits[doc_id]}{marker}")
            rows.append(tuple(r[:3] + [text] + r[4:]))
        return spark.createDataFrame(rows, synth.PAGES_SCHEMA)

    return make
