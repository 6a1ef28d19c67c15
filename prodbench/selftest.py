"""Self-test of the output checks (no Spark).

    python3 prodbench/selftest.py

Writes oracle-exact outputs in the layouts the product paths write
(results partitioned by ``bucket``, the clean-spans table, curation
shards partitioned by ``rng``/``shard``), checks that they pass, then
applies one perturbation at a time and checks that each is detected:
a perturbed result value, a dropped row, a duplicated row, a perturbed
clean-span row, and an extra kept doc in the curation shards.  Exits 1
if an exact output fails or a perturbation goes undetected.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import check  # noqa: E402
import inputs  # noqa: E402


def _write_partitioned(table: pa.Table, out: str, cols: list[str]) -> None:
    """Hive layout ``col=value/part-0.parquet``, as Spark's partitionBy."""
    keys = sorted(set(zip(*(table.column(c).to_pylist() for c in cols))))
    for key in keys:
        mask = [all(r[c] == k for c, k in zip(cols, key))
                for r in table.select(cols).to_pylist()]
        part = table.filter(pa.array(mask)).drop_columns(cols)
        d = os.path.join(out, *(f"{c}={k}" for c, k in zip(cols, key)))
        os.makedirs(d)
        pq.write_table(part, os.path.join(d, "part-0.parquet"))


def _batch_layout(out: str, results: pa.Table, spans: pa.Table) -> None:
    buckets = pa.array([sum(map(ord, d)) % 64
                        for d in results.column("doc_id").to_pylist()],
                       pa.int32())
    _write_partitioned(results.append_column("bucket", buckets),
                       os.path.join(out, "job", "results"), ["bucket"])
    os.makedirs(os.path.join(out, "spans"))
    pq.write_table(spans, os.path.join(out, "spans", "part-0.parquet"))


def _check_batch(out: str, expected: check.Expected) -> int:
    _, bad_r = expected.check_results(
        check.read_dir(os.path.join(out, "job", "results")))
    _, bad_s = expected.check_spans(check.read_dir(os.path.join(out, "spans")))
    return bad_r + bad_s


def _replace_row(table: pa.Table, i: int, row: dict) -> pa.Table:
    rows = table.to_pylist()
    rows[i] = row
    return pa.Table.from_pylist(rows, schema=table.schema)


def main() -> int:
    corpus = inputs.doc_corpus(120, seed=7, shards=2, workers=1)
    expected = check.Expected(corpus.results, corpus.spans)
    docs, evals = inputs.curation_corpus(400, 20, seed=7)
    ref = inputs.curation_reference(docs, evals)
    shards = pa.Table.from_pylist(ref["shards"], schema=check.SHARDS_SCHEMA)
    cur_expected = check.Expected(shards=shards)

    res, spans = corpus.results, corpus.spans
    i_num = next(i for i, v in enumerate(res.column("value_num").to_pylist())
                 if v is not None)
    row = res.slice(i_num, 1).to_pylist()[0]
    bumped = dict(row, value_num=row["value_num"] + 1)
    srow = spans.slice(0, 1).to_pylist()[0]
    cs = [dict(s) for s in srow["clean_spans"]]
    cs[0]["text"] += " x"
    kept = {r["doc_id"] for r in ref["shards"]}
    extra_doc = next(d for d in docs if d["doc_id"] not in kept)
    last = ref["shards"][-1]
    extra = shards.to_pylist() + [{
        "doc_id": extra_doc["doc_id"], "rng": last["rng"],
        "shard": last["shard"], "n_tokens": len(extra_doc["text"].split(" "))}]

    batch_cases = {
        "exact batch outputs": (res, spans, False),
        "perturbed result value": (_replace_row(res, i_num, bumped), spans, True),
        "dropped result row": (res.slice(1), spans, True),
        "duplicated result row": (pa.concat_tables([res, res.slice(0, 1)]),
                                  spans, True),
        "perturbed clean-span row": (
            res, _replace_row(spans, 0, dict(srow, clean_spans=cs)), True),
    }
    shard_cases = {
        "exact curation shards": (shards, False),
        "extra kept doc in shards": (
            pa.Table.from_pylist(extra, schema=check.SHARDS_SCHEMA), True),
    }

    failures = 0
    work_root = os.path.join(ROOT, ".prodbench_work")
    os.makedirs(work_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=work_root)
    try:
        for k, (name, (r, s, should_fail)) in enumerate(batch_cases.items()):
            out = os.path.join(tmp, f"batch{k}")
            _batch_layout(out, r, s)
            bad = _check_batch(out, expected)
            ok = (bad > 0) == should_fail
            failures += not ok
            print(f"{'ok  ' if ok else 'FAIL'} {name}: {bad} mismatched rows")
        for k, (name, (t, should_fail)) in enumerate(shard_cases.items()):
            out = os.path.join(tmp, f"shards{k}")
            text = pa.array(["x"] * t.num_rows)
            _write_partitioned(t.append_column("text", text), out,
                               ["rng", "shard"])
            _, bad = cur_expected.check_shards(check.read_dir(out))
            ok = (bad > 0) == should_fail
            failures += not ok
            print(f"{'ok  ' if ok else 'FAIL'} {name}: {bad} mismatched rows")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("selftest:", "passed" if not failures else f"{failures} case(s) failed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
