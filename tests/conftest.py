import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crego_document_extractor_spark import corpus, oracle  # noqa: E402
from crego_document_extractor_spark.session import get_spark  # noqa: E402

N_DOCS = 200
SEED = 42
BIG_EVERY = 61  # a few heavy-tailed docs inside the 200


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def raw_docs():
    return list(corpus.gen_documents(N_DOCS, seed=SEED, big_doc_every=BIG_EVERY))


@pytest.fixture(scope="session")
def docs_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("corpus") / "documents.parquet"
    corpus.write_corpus(str(p), N_DOCS, seed=SEED, big_doc_every=BIG_EVERY)
    return str(p)


@pytest.fixture(scope="session")
def expected(raw_docs):
    return [oracle.extract_document(d) for d in raw_docs]


@pytest.fixture(scope="session")
def expected_spans(expected):
    return {e["doc_id"]: e["clean_spans"] for e in expected}


@pytest.fixture(scope="session")
def expected_rows(expected):
    out = {}
    for e in expected:
        for r in e["results"]:
            out[(r["doc_id"], r["param_id"])] = r
    return out


@pytest.fixture(scope="session", params=["fused", "relational"],
                ids=["udf", "sql"])  # ids: the extract_all engine names
def pipeline_outputs(spark, docs_path, request):
    """Runs the pipeline through BOTH extraction forms — the shipped
    fused form (pipeline.run → extract_from_raw) and the relational
    check plan (extract_all engine='sql') — so every downstream parity
    test asserts oracle equality for each."""
    from crego_document_extractor_spark import pipeline
    from crego_document_extractor_spark.extract.crif import extract_all

    docs_df = pipeline.load_documents(spark, docs_path)
    if request.param == "fused":
        spans_df, results_df = pipeline.run(docs_df)
    else:
        parsed = pipeline.parse_documents(pipeline.ensure_parallelism(docs_df))
        spans_df = pipeline.clean_spans(parsed)
        results_df = extract_all(parsed, engine="sql")
    spans = {r["doc_id"]: [s.asDict() for s in r["clean_spans"]]
             for r in spans_df.collect()}
    rows = {(r["doc_id"], r["param_id"]): r.asDict()
            for r in results_df.collect()}
    return spans, rows
