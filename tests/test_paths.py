"""Targeted coverage of the chunk-aware extraction paths
(crif.py:311-426): crafted documents where retrieval's best chunk is a
table (chunk-aware DIRECT) or the account text chunk (chunk-aware
FLAG), checked Spark-vs-oracle."""

import math

from crego_document_extractor_spark import oracle
from crego_document_extractor_spark.parse import DOCUMENTS_SCHEMA
from crego_document_extractor_spark import pipeline
from crego_document_extractor_spark.extract.crif import extract_all

FIELDS = ("value_num", "value_bool", "value_str", "value_type",
          "source", "confidence", "status", "similarity_score")


def _doc(doc_id, spans):
    return {"doc_id": doc_id,
            "spans": [dict(s, media_ref=s.get("media_ref", ""), offset=i)
                      for i, s in enumerate(spans)]}


DOC_TABLES_ONLY = _doc("crif-900001", [
    {"kind": "table", "text": ("Requested Service | Score\n"
                               "CIBIL credit bureau score range | \n"
                               "CB SCORE | 651"), "media_ref": "page:1"},
    {"kind": "table", "text": ("Number of Accounts | Active Accounts | "
                               "Total Current Balance | Total Amount Overdue | "
                               "Total Writeoff Amt | max loans written off debt amount\n"
                               "7 | 3 | 1000 | 50 | 0 | "), "media_ref": "page:2"},
])

DOC_FLAG_CHUNK = _doc("crif-900002", [
    {"kind": "heading", "text": "Account Information 1"},
    {"kind": "text", "text": ("Account Number: 77\n"
                              "Account Type: Personal Loan suit filed status "
                              "exists indicates whether any\n"
                              "Status: Active\n"
                              "Account Remarks: Suit Filed")},
])


def _docs_df(spark, docs):
    return spark.createDataFrame(
        [(d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"])
                        for s in d["spans"]]) for d in docs],
        schema=DOCUMENTS_SCHEMA)


def _forms(df):
    """results of the shipped fused form and of the relational check
    plan over the same documents"""
    return {"fused": pipeline.extract_from_raw(df),
            "relational": extract_all(pipeline.parse_documents(df),
                                      engine="sql")}


def _rows(results):
    return {(r["doc_id"], r["param_id"]): r.asDict()
            for r in results.collect()}


def _expected(docs):
    out = {}
    for d in docs:
        for r in oracle.extract_document(d)["results"]:
            out[(r["doc_id"], r["param_id"])] = r
    return out


def _assert_rows_match(got, exp, label):
    assert set(got) == set(exp), label
    for k, e in exp.items():
        g = got[k]
        for f in FIELDS:
            ev, gv = e[f], g[f]
            ok = (math.isclose(ev, gv, abs_tol=1e-12)
                  if isinstance(ev, float) and isinstance(gv, float) else ev == gv)
            assert ok, (label, k, f, ev, gv)


def test_chunk_aware_paths_match_oracle(spark):
    docs = [DOC_TABLES_ONLY, DOC_FLAG_CHUNK]
    exp = _expected(docs)
    for form, results in _forms(_docs_df(spark, docs)).items():
        _assert_rows_match(_rows(results), exp, form)

    # the distinctive paths actually fired (guard against silently
    # regressing into report-level fallbacks)
    score = exp[("crif-900001", "bureau_credit_score")]
    assert score["source"] == "Verification Table (from Table 1)"
    assert math.isclose(score["confidence"], 0.5 * 0.9, abs_tol=1e-12)  # chunk_aware × boost(0.745)
    assert 0.70 <= score["similarity_score"] < 0.85  # the 0.9 tier
    suit = exp[("crif-900002", "bureau_suit_filed")]
    assert suit["source"] == "Account Remarks (1/1 accounts in chunk)"
    assert math.isclose(suit["confidence"], 0.5 * 0.9, abs_tol=1e-12)  # chunk_aware × boost(0.701)
    assert 0.70 <= suit["similarity_score"] < 0.85


def test_duplicate_doc_ids_stay_independent(spark, tmp_path):
    """Two input rows sharing a doc_id are two documents (the reference
    processes one request = one document): extraction must preserve the
    row count and per-row values — no cross-row merging on doc_id
    (regression: the relational account aggregation once keyed on
    doc_id and collapsed colliding rows).  Checked on both forms."""
    from crego_document_extractor_spark import corpus

    p1, p2 = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    corpus.write_corpus(p1, 10, seed=7, big_doc_every=0)
    corpus.write_corpus(p2, 10, seed=9, big_doc_every=0)  # same doc_ids
    d1 = pipeline.load_documents(spark, p1)
    d2 = pipeline.load_documents(spark, p2)

    def rows(df, form):
        return sorted(tuple(repr(v) for v in r)
                      for r in _forms(df)[form].collect())

    for form in ("fused", "relational"):
        combined = rows(d1.unionByName(d2), form)
        separate = sorted(rows(d1, form) + rows(d2, form))
        assert combined == separate, form


def test_fused_extract_matches_oracle_on_mega_docs(spark, tmp_path):
    """pipeline.extract_from_raw (the shipped fused parse+retrieval
    MapInPandas) equals the oracle row for row, bit for bit, on a
    corpus with heavy-tailed mega-documents."""
    from crego_document_extractor_spark import corpus

    path = str(tmp_path / "fuse.parquet")
    corpus.write_corpus(path, 120, seed=13, big_doc_every=17)
    exp = _expected(corpus.gen_documents(120, seed=13, big_doc_every=17))
    got = _rows(pipeline.extract_from_raw(spark.read.parquet(path)))
    # exact: the fused stage and the oracle share semantics.py
    assert ({k: tuple(r[f] for f in FIELDS) for k, r in got.items()}
            == {k: tuple(r[f] for f in FIELDS) for k, r in exp.items()})


def test_null_doc_id_yields_no_rows(spark, tmp_path):
    """A row with a NULL doc_id is kind 'other' (parse.DOC_KIND_SQL and
    parse._doc_kind agree): it yields no result rows and does not fail
    the job, and every other document's results still match the
    oracle — on the batch job path and on extract_from_raw."""
    from crego_document_extractor_spark import corpus, lineage

    docs = list(corpus.gen_documents(6, seed=7, big_doc_every=0))
    exp = _expected(docs)
    crif = next(d for d in docs if d["doc_id"].startswith("crif-"))
    df = _docs_df(spark, docs + [dict(crif, doc_id=None)])

    got = _rows(pipeline.extract_from_raw(df))
    assert not any(d is None for d, _ in got)
    _assert_rows_match(got, exp, "extract_from_raw")

    out = str(tmp_path / "job")
    lineage.run_with_lineage(df, out, n_buckets=4)
    got = _rows(lineage.read_results(spark, out).drop("bucket"))
    assert not any(d is None for d, _ in got)
    _assert_rows_match(got, exp, "run_with_lineage")
