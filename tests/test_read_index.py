"""Stored-index reads through ``sources.sinks.read_index``: the schema
is inferred once per written index, so a warm lookup is one Spark job,
an absent-term bloom lookup runs only its sidecar probe, and a rewrite
of the index directory is seen by the next read."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from inverted_index_using_the_map_reduce_paradigm_spark.operators.inverted_index import (
    build_index,
)
from inverted_index_using_the_map_reduce_paradigm_spark.sources.sinks import (
    bloom_candidate_files,
    bloom_pruned_lookup,
    lookup_term,
    read_index,
    write_bloom_sidecar,
    write_parquet_index,
)


def _index(spark):
    docs = spark.createDataFrame(
        [(1, "the quick dog"), (2, "the dog days"), (3, "a lazy cat")],
        "doc_id long, text string",
    )
    return build_index(docs)


def _jobs(spark, action):
    """(result of ``action()``, Spark jobs it ran), counted under a
    fresh job group."""
    sc = spark.sparkContext
    group = f"read_index_test_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setJobGroup(None, None)
    # job events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_term_lookup_is_one_job(spark, tmp_path):
    out = str(tmp_path / "idx")
    write_parquet_index(_index(spark), out)
    lookup_term(spark, out, "dog").collect()

    rows, jobs = _jobs(spark, lambda: lookup_term(spark, out, "dog").collect())
    assert [(r.word, sorted(r.postings), r.letter) for r in rows] == [
        ("dog", [1, 2], "d")
    ]
    assert jobs == 1


def test_absent_term_bloom_lookup_runs_only_the_sidecar_probe(spark, tmp_path):
    out = str(tmp_path / "idx")
    write_parquet_index(_index(spark), out)
    sidecar = write_bloom_sidecar(spark, out)
    term = "dingo"  # its letter directory exists; the bloom rules it out
    assert not [
        f for f in bloom_candidate_files(spark, sidecar, term) if "/letter=d/" in f
    ]

    def probe():
        df = bloom_pruned_lookup(spark, out, sidecar, term)
        return df.columns, df.collect()

    probe()
    (columns, rows), jobs = _jobs(spark, probe)
    assert rows == []
    assert columns == read_index(spark, out).columns
    assert jobs == 1


def test_rewritten_index_is_reinferred(spark, tmp_path):
    out = str(tmp_path / "idx")
    write_parquet_index(_index(spark), out)
    assert "extra" not in read_index(spark, out).columns

    write_parquet_index(_index(spark).withColumn("extra", F.lit(7)), out)
    rows = read_index(spark, out).filter(F.col("word") == "cat").collect()
    assert [(r.word, r.extra) for r in rows] == [("cat", 7)]
