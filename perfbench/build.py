"""``build``: the paper's write path, corpus -> 26 letter files.

One operation runs both builds over the same text: the CLI job
(reference manifest + files -> ``a.txt`` ... ``z.txt``) and the stored
index job (``documents.parquet`` -> letter-partitioned parquet).
"""

from __future__ import annotations

import glob
import os
import string

from common import Ctx, duckdb_con, require, setup_program

TABLES = ("documents",)
KIND = "corpus"
# one operation per round, measured from the first: the CLI runs once
# per process, so its users pay the cold build
ROUND, MIN_ROUNDS = 1, 1


def prepare(ctx: Ctx) -> None:
    """Manifest in the reference's master-file format, and the expected
    letter files from the registry's DuckDB oracle, in reference order
    (doc_freq DESC, word ASC)."""
    from inverted_index_using_the_map_reduce_paradigm_spark.operators.inverted_index import (
        INVERTED_INDEX_ORACLE,
    )

    files = sorted(glob.glob(os.path.join(ctx.inputs, "corpus", "*.txt")))
    ctx.manifest = os.path.join(ctx.work, "manifest.txt")
    with open(ctx.manifest, "w") as f:
        f.write(f"{len(files)}\n" + "\n".join(files) + "\n")
    con = duckdb_con(ctx.sf, TABLES)
    rows = con.sql(INVERTED_INDEX_ORACLE).fetchall()
    require(len(rows) > 0, "oracle index is empty")
    by_letter: dict[str, list] = {c: [] for c in string.ascii_lowercase}
    for word, postings, df, letter in rows:
        by_letter[letter].append((-df, word, postings))
    ctx.expected_files = {
        c: "".join(f"{w}:[{p}]\n" for _, w, p in sorted(v)).encode()
        for c, v in by_letter.items()
    }
    ctx.expected_index = {w: (p, df) for w, p, df, _ in rows}
    ctx.words = len(rows)


def setup(ctx: Ctx) -> None:
    setup_program(ctx, TABLES)


def op(ctx: Ctx, i: int) -> dict:
    from inverted_index_using_the_map_reduce_paradigm_spark.data import table
    from inverted_index_using_the_map_reduce_paradigm_spark.operators.inverted_index import (
        build_index,
        formatted_index,
    )
    from inverted_index_using_the_map_reduce_paradigm_spark.sources.manifest import read_corpus
    from inverted_index_using_the_map_reduce_paradigm_spark.sources.sinks import (
        collect_reference_layout,
        write_letter_index,
        write_parquet_index,
    )

    letters = os.path.join(ctx.work, "out", "letters")
    stored = os.path.join(ctx.work, "out", "stored")
    spark = ctx.spark
    with ctx.span("build.cli") as cli:
        with ctx.span("manifest.read_corpus"):
            docs = read_corpus(spark, ctx.manifest, validate=True, wholetext=True)
        with ctx.span("sinks.write_letter_index"):
            write_letter_index(formatted_index(docs, arrow_tokenizer=True), letters)
        with ctx.span("sinks.collect_reference_layout"):
            collect_reference_layout(letters)
    with ctx.span("build.stored") as st:
        with ctx.span("sinks.write_parquet_index"):
            write_parquet_index(build_index(table(spark, ctx.sf, "documents")), stored)
    return {"letters": letters, "stored": stored, "cli_s": cli.wall, "stored_s": st.wall}


def check(ctx: Ctx, out: dict) -> None:
    import pyarrow.parquet as pq

    for c in string.ascii_lowercase:
        p = os.path.join(out["letters"], f"{c}.txt")
        require(os.path.isfile(p), f"{c}.txt missing")
        with open(p, "rb") as f:
            got = f.read()
        require(got == ctx.expected_files[c], f"{c}.txt differs from the oracle")
    extra = set(os.listdir(out["letters"])) - {f"{c}.txt" for c in string.ascii_lowercase}
    require(not {e for e in extra if not e.startswith((".", "_"))}, f"extra outputs {extra}")
    t = pq.read_table(out["stored"], columns=["word", "postings", "doc_freq"]).to_pydict()
    require(len(t["word"]) == ctx.words, "stored index word count differs")
    for w, p, df in zip(t["word"], t["postings"], t["doc_freq"]):
        want = ctx.expected_index.get(w)
        require(
            want is not None and " ".join(map(str, p)) == want[0] and df == want[1],
            f"stored posting list of {w!r} differs from the oracle",
        )


def report(ctx: Ctx, outs: list[dict], add) -> None:
    from stats import median

    mib = ctx.meta["text_bytes"] / 2**20
    add("build_mib_per_s", mib / median([o["cli_s"] for o in outs]), "MiB/s")
    add("stored_build_mib_per_s", mib / median([o["stored_s"] for o in outs]), "MiB/s")
    stored = outs[-1]["stored"]
    size = sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(stored, "letter=*", "*.parquet"))
    )
    add("index_bytes_per_input_byte", size / ctx.meta["text_bytes"], "ratio")
