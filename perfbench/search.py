"""``search``: the read path over the stored indexes.

Set-up builds the ``flat``, ``bloomed`` and ``positional`` stored
indexes over the ``build`` corpus.  Then one closed-loop client sends a
seeded mix of requests, each ending in ``collect()``: term lookups
(head, torso and tail words), absent-term lookups through the bloom
sidecar, and the registered stored-index queries.
"""

from __future__ import annotations

from common import Ctx, duckdb_con, norm_rows, require, setup_program, spark_rows, tokens

TABLES = ("documents",)
KIND = "corpus"
KINDS = ("flat", "bloomed", "positional")

# request kind -> registered query (None: a direct sinks call)
REQUESTS = {
    "term": None,
    "absent": None,
    "and": "boolean_and_stored",
    "or": "boolean_or_stored",
    "not": "boolean_not_stored",
    "phrase": "phrase_search_stored",
    "prefix": "prefix_search_stored",
}
# term lookups by Zipf rank band: head, torso, tail
BANDS = {"head": (1, 100), "torso": (101, 5_000), "tail": (5_001, 10**9)}
# a round is one request of each kind (three terms, one per band) in a
# seeded order; runs measure whole rounds so each has the same mix.  No
# warm-up: the median of six rounds leaves out the cold first one.
ROUND_KINDS = (*BANDS, *(k for k in REQUESTS if k != "term"))
ROUND, MIN_ROUNDS = len(ROUND_KINDS), 6


def prepare(ctx: Ctx) -> None:
    """Ground truth, computed once: every word's posting list from the
    registry's inverted-index oracle in DuckDB, and from it (and, for
    the phrase, from the documents' tokens) each registered query's
    answer."""
    import numpy as np
    import pyarrow.parquet as pq
    from gen import PHRASE
    from inverted_index_using_the_map_reduce_paradigm_spark.operators import inverted_index as ii

    con = duckdb_con(ctx.sf, TABLES)
    ctx.postings = {
        w: (p, df) for w, p, df, _ in con.sql(ii.INVERTED_INDEX_ORACLE).fetchall()
    }
    docs = {w: {int(d) for d in p.split()} for w, (p, _) in ctx.postings.items()}
    universe = set().union(*docs.values())

    def doc_rows(ids):
        return norm_rows(["doc_id"], [(d,) for d in ids])

    texts = pq.read_table(f"{ctx.sf}/documents.parquet", columns=["doc_id", "text"]).to_pydict()
    a, b = PHRASE
    phrase = []
    for d, text in zip(texts["doc_id"], texts["text"]):
        t = tokens(text)
        n = sum(1 for i in range(len(t) - 1) if t[i] == a and t[i + 1] == b)
        if n:
            phrase.append((d, n))
    ctx.truth = {
        "and": doc_rows(set.intersection(*(docs[t] for t in ii.AND_TERMS))),
        "or": doc_rows(set.union(*(docs[t] for t in ii.OR_TERMS))),
        "not": doc_rows(universe - set.union(*(docs[t] for t in ii.NOT_TERMS))),
        "phrase": norm_rows(["doc_id", "n_matches"], phrase),
        "prefix": norm_rows(
            ["word", "postings", "doc_freq", "letter"],
            [(w, p, df, w[0]) for w, (p, df) in ctx.postings.items()
             if w.startswith(ii.PREFIX)],
        ),
    }
    for kind, rows in ctx.truth.items():
        require(rows, f"ground truth of {kind} is empty")
    vocab, absent = ctx.meta["vocab"], ctx.meta["absent"]
    present = np.array(ctx.meta["present_ranks"]) + 1
    words = {
        band: [vocab[r - 1] for r in present[(present >= lo) & (present <= hi)]]
        for band, (lo, hi) in BANDS.items()
    }
    rng = np.random.default_rng([ctx.seed, 3])
    ctx.requests = []
    for _ in range(500):
        for k in rng.permutation(ROUND_KINDS):
            if k in words:
                ctx.requests.append(("term", words[k][rng.integers(len(words[k]))]))
            else:
                ctx.requests.append((str(k), absent[rng.integers(len(absent))]))


def setup(ctx: Ctx) -> None:
    setup_program(ctx, TABLES)
    from inverted_index_using_the_map_reduce_paradigm_spark.operators import inverted_index
    from inverted_index_using_the_map_reduce_paradigm_spark.sources import sinks

    # a span around the sidecar probe inside bloom_pruned_lookup, which
    # looks the function up in its module at call time
    real = sinks.bloom_candidate_files

    def bloom_candidate_files(*a, **kw):
        with ctx.span("sinks.bloom_candidate_files"):
            return real(*a, **kw)

    sinks.bloom_candidate_files = bloom_candidate_files
    with ctx.span("inverted_index.stored_index_dir"):
        ctx.index_dirs = {
            k: inverted_index.stored_index_dir(ctx.spark, ctx.sf, k) for k in KINDS
        }


def op(ctx: Ctx, i: int):
    from inverted_index_using_the_map_reduce_paradigm_spark.sources.sinks import (
        bloom_pruned_lookup,
        lookup_term,
    )

    kind, arg = ctx.requests[i % len(ctx.requests)]
    spark = ctx.spark
    with ctx.span(f"search.{kind}"):
        if kind == "term":
            with ctx.span("sinks.lookup_term"):
                df = lookup_term(spark, ctx.index_dirs["flat"], arg)
        elif kind == "absent":
            d = ctx.index_dirs["bloomed"]
            df = bloom_pruned_lookup(spark, d, d + "_bloom", arg)
        else:
            df = ctx.queries[REQUESTS[kind]].fn(spark, ctx.sf)
        rows = df.collect()
    return kind, arg, df.columns, rows


def check(ctx: Ctx, out) -> None:
    kind, arg, columns, rows = out
    if kind == "term":
        p, df = ctx.postings[arg]
        require(len(rows) == 1, f"lookup {arg!r}: {len(rows)} rows")
        r = rows[0].asDict()
        require(
            r["word"] == arg and " ".join(map(str, r["postings"])) == p
            and r["doc_freq"] == df,
            f"lookup {arg!r} differs from the oracle",
        )
    elif kind == "absent":
        require(not rows, f"absent term {arg!r} returned {len(rows)} rows")
    else:
        require(spark_rows(columns, rows) == ctx.truth[kind], f"{kind} differs from the oracle")


def report(ctx: Ctx, outs: list, add) -> None:
    pass
