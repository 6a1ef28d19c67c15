"""Streaming wrapper: micro-batches reuse the batch pipeline; the
checkpoint makes a restarted stream process only new files."""

import os
import shutil

from crego_document_extractor_spark import corpus, oracle, streaming

_KEYS = ("doc_id", "param_id", "value_num", "value_bool", "value_str",
         "confidence", "status")


def _sorted(rows):
    return sorted((tuple(r[k] for k in _KEYS) for r in rows),
                  key=lambda t: tuple(repr(x) for x in t))


def _results_set(df):
    return _sorted(df.collect())


def _oracle_set(*corpora):
    """expected result rows of corpus.gen_documents(n, seed) slices"""
    return _sorted(r for n, seed in corpora
                   for d in corpus.gen_documents(n, seed=seed, big_doc_every=0)
                   for r in oracle.extract_document(d)["results"])


def test_stream_matches_batch_and_resumes(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    corpus.write_corpus(f"{in_dir}/part1.parquet", 40, seed=7, big_doc_every=0)

    q = streaming.stream_extract(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(120)

    got1 = spark.read.parquet(f"{out_dir}/results")
    assert _results_set(got1) == _oracle_set((40, 7))

    # add a second file; restarted stream must process ONLY the new file
    corpus.write_corpus(f"{in_dir}/part2.parquet", 30, seed=9, big_doc_every=0)
    q2 = streaming.stream_extract(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination(120)

    got2 = spark.read.parquet(f"{out_dir}/results")
    assert _results_set(got2) == _oracle_set((40, 7), (30, 9))

    shutil.rmtree(out_dir)


def test_windowed_watermark_agg(spark, tmp_path):
    import pyspark.sql.functions as F

    in_dir = str(tmp_path / "ev")
    os.makedirs(in_dir)
    shutil.copy("/root/testdata/sf0.001/events.parquet",
                f"{in_dir}/events.parquet")
    q = streaming.stream_windowed_event_counts(
        spark, in_dir, str(tmp_path / "o"), str(tmp_path / "c"))
    q.awaitTermination(120)

    got = {(r["w_start"], r["event_type"]): (r["n"], r["total_value"])
           for r in spark.read.parquet(str(tmp_path / "o" / "counts")).collect()}
    assert got  # finalized windows were emitted

    batch = spark.read.parquet(f"{in_dir}/events.parquet")
    exp = {(r["w"]["start"], r["event_type"]): (r["n"], r["tv"])
           for r in (batch.groupBy(F.window("ts", "1 hour").alias("w"),
                                   "event_type")
                     .agg(F.count("*").alias("n"),
                          F.round(F.sum("value"), 2).alias("tv"))).collect()}
    # append mode: every emitted window matches the batch aggregate;
    # only the tail inside the watermark horizon is withheld
    for k, v in got.items():
        assert exp[k] == v
    assert len(got) >= len(exp) - 4 * len({k[1] for k in exp})


def test_stateful_stream_dedup_across_batches_and_restart(spark, tmp_path):
    """applyInPandasWithState: the checkpointed seen-set must suppress
    duplicates WITHIN a micro-batch, ACROSS micro-batches, and across a
    stream RESTART (state restored from the checkpoint)."""
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    os.makedirs(in_dir)

    # part1: 30 docs (seed 5) + part2 duplicates 20 of them byte-for-byte
    corpus.write_corpus(f"{in_dir}/part1.parquet", 30, seed=5, big_doc_every=0)
    q = streaming.stream_dedup(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(120)
    got1 = spark.read.parquet(f"{out_dir}/unique")
    assert got1.count() == 30
    assert got1.select("content_key").distinct().count() == 30

    # restart with a superset file: 20 dup contents + 20 new (seed 5 is
    # a prefix of the 50-doc corpus, but doc_ids differ per file suffix
    # only in content equality terms — write 50 docs, 30 shared)
    corpus.write_corpus(f"{in_dir}/part2.parquet", 50, seed=5, big_doc_every=0)
    q2 = streaming.stream_dedup(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination(120)
    got2 = spark.read.parquet(f"{out_dir}/unique")
    # the 30 contents seen before the restart are suppressed by the
    # restored state; only the 20 genuinely new contents are emitted
    assert got2.count() == 50
    assert got2.select("content_key").distinct().count() == 50


def test_stream_dedup_bounded_state(spark, tmp_path):
    """With max_state_per_bucket the per-bucket seen-set is CAPPED:
    within-horizon duplicates are still suppressed and the state never
    grows past buckets x cap on a duplicate-heavy stream."""
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    corpus.write_corpus(f"{in_dir}/p1.parquet", 40, seed=9, big_doc_every=0)
    q = streaming.stream_dedup(spark, in_dir, str(tmp_path / "out"),
                               str(tmp_path / "ck"), buckets=4,
                               max_state_per_bucket=3)
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "out" / "unique"))
    # one batch: within-batch dedup exact regardless of the cap
    assert got.count() == got.select("content_key").distinct().count()
    # the checkpointed state is bounded: re-running the SAME input with
    # the tiny horizon re-emits at most (distinct - buckets*cap) extras,
    # never errors, and still suppresses everything inside the horizon
    corpus.write_corpus(f"{in_dir}/p2.parquet", 40, seed=9, big_doc_every=0)
    q2 = streaming.stream_dedup(spark, in_dir, str(tmp_path / "out"),
                                str(tmp_path / "ck"), buckets=4,
                                max_state_per_bucket=3)
    q2.awaitTermination(120)
    got2 = spark.read.parquet(str(tmp_path / "out" / "unique"))
    n1, n2 = got.count(), got2.count()
    # at least the 4*3 most-recent hashes stayed suppressed
    assert n2 - n1 <= n1 - 4 * 3
    assert n2 - n1 >= 0


def test_stream_dedup_bloom_sketch(spark, tmp_path):
    """state='bloom': fixed-size per-bucket Bloom state gives the same
    dedup output as the exact path on a small corpus (FP probability
    negligible at these counts), across micro-batches and a restart."""
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    os.makedirs(in_dir)
    corpus.write_corpus(f"{in_dir}/part1.parquet", 30, seed=5, big_doc_every=0)
    q = streaming.stream_dedup(spark, in_dir, out_dir, ckpt,
                               buckets=4, state="bloom",
                               sketch_bits=1 << 16)
    q.awaitTermination(120)
    got1 = spark.read.parquet(f"{out_dir}/unique")
    assert got1.count() == 30
    # restart with 30 duplicate + 20 new contents: the sketch restored
    # from the checkpoint keeps suppressing everything already seen
    corpus.write_corpus(f"{in_dir}/part2.parquet", 50, seed=5, big_doc_every=0)
    q2 = streaming.stream_dedup(spark, in_dir, out_dir, ckpt,
                                buckets=4, state="bloom",
                                sketch_bits=1 << 16)
    q2.awaitTermination(120)
    got2 = spark.read.parquet(f"{out_dir}/unique")
    assert got2.count() == 50
    assert got2.select("content_key").distinct().count() == 50


def test_stream_dedup_bloom_odd_sketch_bits(spark, tmp_path):
    """ADVICE r4 (low): sketch_bits not divisible by 8 must round the
    byte allocation UP — indexes landing in the final partial byte
    previously raised IndexError."""
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    corpus.write_corpus(f"{in_dir}/p1.parquet", 10, seed=11, big_doc_every=0)
    # 13 bits: indexes 8-12 live in the second (partial) byte and are
    # hit with near-certainty by 10 docs x 4 indexes; the sketch
    # saturates (false positives expected), so assert crash-freedom
    # and plausible output, not exact counts.
    q = streaming.stream_dedup(spark, in_dir, str(tmp_path / "out"),
                               str(tmp_path / "ck"), buckets=2,
                               state="bloom", sketch_bits=13)
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "out" / "unique"))
    assert 1 <= got.count() <= 10


def test_stream_ingest_dedup_shared_index(spark, tmp_path):
    """stream_ingest_dedup: micro-batches dedup against the PERSISTED
    parquet key index; the index is shared with the batch path (a
    pre-seeded history key suppresses the matching stream doc), and a
    second stream run over new files keeps suppressing everything
    already ingested."""
    import pandas as pd
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    idx = str(tmp_path / "index")
    os.makedirs(in_dir)

    # batch path seeds the index with one known content
    from pyspark.sql import functions as F
    seed = spark.createDataFrame([(999, "preexisting corpus doc")],
                                 "doc_id long, text string")
    (seed.select(F.sha2("text", 256).alias("content_key"))
     .write.parquet(idx))

    pd.DataFrame({"doc_id": [1, 2, 3],
                  "text": ["preexisting corpus doc",   # vs index
                           "fresh one", "fresh one"]   # batch dup
                  }).to_parquet(f"{in_dir}/b1.parquet")
    q = streaming.stream_ingest_dedup(spark, in_dir, out_dir, ckpt, idx)
    q.awaitTermination(120)
    docs1 = spark.read.parquet(f"{out_dir}/docs")
    assert sorted(r.doc_id for r in docs1.collect()) == [2]

    # second run: dup of a streamed doc + one new
    pd.DataFrame({"doc_id": [4, 5],
                  "text": ["fresh one", "brand new"]}
                 ).to_parquet(f"{in_dir}/b2.parquet")
    q2 = streaming.stream_ingest_dedup(spark, in_dir, out_dir, ckpt, idx)
    q2.awaitTermination(120)
    docs2 = spark.read.parquet(f"{out_dir}/docs")
    assert sorted(r.doc_id for r in docs2.collect()) == [2, 5]
    # index now holds exactly the distinct ingested contents
    keys = spark.read.parquet(idx)
    assert keys.distinct().count() == 3  # seed + 'fresh one' + 'brand new'
