"""Seeded inputs and their expected outputs, made before Spark starts.

Everything here is pure Python (no Spark) and depends only on the
seed, so the same seed gives byte-identical inputs and expectations.

Document corpora come from ``corpus.gen_documents`` (its 40/20/40
crif/gstr/html mix, lognormal html span counts, a mega-doc every 97th
doc, 10% out-of-order span arrays).  They are generated in independent
shards so a process pool can build them and run the pure-Python
``oracle`` over them in parallel; a shard's doc ids carry the shard
number (``crif-000123.s04``) so ids stay unique and keep their kind
prefix.

The curation corpus is a text table whose documents are drawn to fail
each funnel gate in stated shares (``CURATION_SHARES``); the expected
kept set and shard token totals come from a pure-Python reference of
``jobs.curate_job.run``.
"""

from __future__ import annotations

import hashlib
import multiprocessing
import os
import random
import re

import pyarrow as pa
import pyarrow.parquet as pq

SPAN_T = pa.struct([("kind", pa.string()), ("text", pa.string()),
                    ("media_ref", pa.string()), ("offset", pa.int32())])
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()),
                         ("spans", pa.list_(SPAN_T))])
RESULTS_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("param_id", pa.string()),
    ("value_num", pa.float64()), ("value_bool", pa.bool_()),
    ("value_str", pa.string()), ("value_type", pa.string()),
    ("source", pa.string()), ("confidence", pa.float64()),
    ("status", pa.string()), ("similarity_score", pa.float64())])
SPANS_SCHEMA = pa.schema([("doc_id", pa.string()),
                          ("clean_spans", pa.list_(SPAN_T))])
TEXT_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                         ("lang", pa.string())])


# --------------------------------------------------------------------------
# document corpora (batch_extract, stream_extract)

def _doc_shard(args: tuple) -> tuple[list, list, list]:
    """One shard: docs, their oracle result rows, their clean spans."""
    n_docs, seed, shard = args
    from crego_document_extractor_spark import corpus, oracle
    docs, rows, spans = [], [], []
    for d in corpus.gen_documents(n_docs, seed=seed * 1009 + shard):
        d["doc_id"] = f"{d['doc_id']}.s{shard:02d}"
        exp = oracle.extract_document(d)
        docs.append(d)
        rows.extend(exp["results"])
        spans.append({"doc_id": d["doc_id"], "clean_spans": exp["clean_spans"]})
    return docs, rows, spans


def _pool_map(fn, jobs: list, workers: int) -> list:
    """``map`` over spawned worker processes (spawn: the caller may
    already run threads).  Ends every process it starts: the workers,
    and the resource tracker their semaphores started."""
    import gc
    from multiprocessing import resource_tracker
    pool = multiprocessing.get_context("spawn").Pool(workers)
    try:
        return pool.map(fn, jobs)
    finally:
        pool.close()
        pool.join()
        del pool
        gc.collect()  # unlink the pool's semaphores before the tracker stops
        stop = getattr(resource_tracker._resource_tracker, "_stop", None)
        if stop is not None:
            stop()


class DocCorpus:
    """A document corpus and its oracle expectations (Arrow tables)."""

    def __init__(self, docs: list, rows: list, spans: list):
        self.docs = docs
        self.results = pa.Table.from_pylist(rows, schema=RESULTS_SCHEMA)
        self.spans = pa.Table.from_pylist(spans, schema=SPANS_SCHEMA)

    def __len__(self) -> int:
        return len(self.docs)

    def doc_table(self, docs: list | None = None) -> pa.Table:
        return pa.Table.from_pylist(self.docs if docs is None else docs,
                                    schema=DOCS_SCHEMA)


def doc_corpus(n_docs: int, seed: int, shards: int, workers: int) -> DocCorpus:
    """``n_docs`` docs in ``shards`` equal shards, built on ``workers``
    processes."""
    per = [n_docs // shards + (1 if s < n_docs % shards else 0)
           for s in range(shards)]
    jobs = [(n, seed, s) for s, n in enumerate(per)]
    parts = _pool_map(_doc_shard, jobs, workers) if workers > 1 else \
        [_doc_shard(j) for j in jobs]
    docs, rows, spans = [], [], []
    for d, r, s in parts:
        docs += d
        rows += r
        spans += s
    return DocCorpus(docs, rows, spans)


def write_round_robin(table: pa.Table, out_dir: str, n_files: int) -> None:
    """Row i goes to file ``part-{i mod n_files}.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for f in range(n_files):
        part = table.take(list(range(f, table.num_rows, n_files)))
        pq.write_table(part, os.path.join(out_dir, f"part-{f:03d}.parquet"))


# --------------------------------------------------------------------------
# curation corpus (curate_shards)

#: share of documents built to be dropped at each funnel stage; the rest
#: pass every stage.  "dup" copies the text of an earlier kept document,
#: "contam" embeds an 8-word window of an eval document.
CURATION_SHARES = {"lang": 0.10, "short": 0.10, "no_stopword": 0.10,
                   "dup": 0.10, "contam": 0.05}
MIN_CHARS = 100
BUDGET_TOKENS = 2048
RANGE_SIZE = 1000      # ops.pack.pack_sequences' default
CONTAM_N = 8           # ops.curation.curation_funnel's default

_WORDS = ("data span scan merge query filter credit loan report account "
          "value table row batch stream page block text media summary score "
          "amount balance history overdue active closed secured inquiry "
          "purpose window shuffle join broadcast partition bucket shard "
          "token budget corpus quality gate").split()
_EVAL_WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india "
               "juliet kilo lima mike november oscar papa quebec romeo "
               "sierra tango uniform victor whiskey xray yankee zulu").split()


def _text(rng: random.Random, n_words: int, stopword: bool) -> str:
    words = [rng.choice(_WORDS) for _ in range(n_words)]
    if stopword:
        words.insert(rng.randrange(1, n_words), "the")
    return " ".join(words)


def curation_corpus(n_docs: int, n_eval: int, seed: int) -> tuple[list, list]:
    """(docs, eval_docs) as row dicts of ``TEXT_SCHEMA``."""
    rng = random.Random(seed)
    evals = [{"doc_id": i, "lang": "en",
              "text": " ".join(rng.choice(_EVAL_WORDS)
                               for _ in range(rng.randint(20, 40)))}
             for i in range(n_eval)]
    cats = list(CURATION_SHARES)
    weights = list(CURATION_SHARES.values())
    cats.append("clean")
    weights.append(1 - sum(weights))
    lo, hi = 20, 60          # words per long doc; MIN_CHARS needs ~15
    docs, clean_texts = [], []
    for i in range(n_docs):
        cat = rng.choices(cats, weights)[0]
        if cat == "dup" and not clean_texts:
            cat = "clean"
        lang = "en"
        if cat == "lang":
            lang = rng.choice(["de", "fr", None])
            text = _text(rng, rng.randint(lo, hi), True)
        elif cat == "short":
            text = _text(rng, rng.randint(2, 8), True)
        elif cat == "no_stopword":
            text = _text(rng, rng.randint(lo, hi), False)
        elif cat == "dup":
            text = rng.choice(clean_texts)
        else:
            text = _text(rng, rng.randint(lo, hi), True)
            if cat == "contam":
                toks = rng.choice(evals)["text"].split(" ")
                at = rng.randrange(len(toks) - CONTAM_N + 1)
                text += " " + " ".join(toks[at:at + CONTAM_N])
            else:
                clean_texts.append(text)
        docs.append({"doc_id": i, "text": text, "lang": lang})
    return docs, evals


def _grams(text: str) -> set[str]:
    """ops.curation._word_ngrams: distinct lowercase word n-grams over
    Java-regex ``\\s+`` tokens."""
    toks = [t for t in re.split(r"[ \t\n\x0b\f\r]+", text.lower()) if t]
    return {" ".join(toks[i:i + CONTAM_N])
            for i in range(len(toks) - CONTAM_N + 1)}


def curation_reference(docs: list, evals: list) -> dict:
    """Pure-Python twin of ``jobs.curate_job.run`` with its defaults:
    the funnel report and the written shard rows
    (doc_id, rng, shard, n_tokens)."""
    gates = [("lang", lambda d: d["lang"] == "en"),
             ("min_length", lambda d: len(d["text"]) >= MIN_CHARS),
             ("has_stopword", lambda d: " the " in d["text"].lower())]
    dropped_at = {}
    for d in docs:
        for i, (_, ok) in enumerate(gates):
            if not ok(d):
                dropped_at[d["doc_id"]] = i
                break
    reach = [d for d in docs if d["doc_id"] not in dropped_at]
    first_id: dict[str, int] = {}
    for d in reach:
        key = hashlib.md5(d["text"].encode()).hexdigest()
        first_id[key] = min(first_id.get(key, d["doc_id"]), d["doc_id"])
    for d in reach:
        if first_id[hashlib.md5(d["text"].encode()).hexdigest()] != d["doc_id"]:
            dropped_at[d["doc_id"]] = 3
    eval_grams = set().union(*(_grams(e["text"]) for e in evals))
    for d in reach:
        if d["doc_id"] not in dropped_at and _grams(d["text"]) & eval_grams:
            dropped_at[d["doc_id"]] = 4
    stages = [n for n, _ in gates] + ["exact_dedup", "decontaminate"]
    funnel, n_in = [], len(docs)
    for i, stage in enumerate(stages):
        n_drop = sum(1 for s in dropped_at.values() if s == i)
        funnel.append({"stage_idx": i, "stage": stage, "n_in": n_in,
                       "n_kept": n_in - n_drop, "n_dropped": n_drop})
        n_in -= n_drop
    kept = sorted((d for d in docs if d["doc_id"] not in dropped_at),
                  key=lambda d: d["doc_id"])
    shards, cum = [], {}
    for d in kept:
        n_tok = len(d["text"].split(" "))
        rng = d["doc_id"] // RANGE_SIZE
        start = cum.get(rng, 0)
        cum[rng] = start + n_tok
        shards.append({"doc_id": d["doc_id"], "rng": rng,
                       "shard": start // BUDGET_TOKENS, "n_tokens": n_tok})
    return {"funnel": funnel, "shards": shards}
