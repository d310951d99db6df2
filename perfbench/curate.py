"""``curate``: the LLM-data batch path.

One operation is one pass over six registered curation queries, each
timed from the call into ``fn(spark, dir)`` (plan build, which may
materialize eagerly) until its result exists on the client.

``near_dup_clusters`` is left out on purpose: on a 20k-doc corpus on a
4-core, 15 GiB host one call took 194 s at a 10g heap, and at the
default 48g heap the OS killed the JVM at 15.7 GB RSS.  That is a
defect of the program, kept as a follow-up; the corpus is not shrunk to
hide it.
"""

from __future__ import annotations

from common import Ctx, duckdb_con, oracle_rows, require, setup_program, spark_rows, tokens

TABLES = ("documents", "embeddings")
KIND = "curate"
# one pass per round, measured cold: a batch pipeline runs each query
# once per process, and warm passes do not fit the run's time budget
ROUND, MIN_ROUNDS = 1, 1
# MinHash(16) with 4 bands of 4 finds a pair of Jaccard ~0.75 (a 5%
# edit) with probability ~0.75; well below that, the query has traded
# recall for time
RECALL_FLOOR = 0.5
QUERIES = (
    "exact_dedup",
    "minhash_lsh_dedup",
    "simhash_dedup",
    "tf_idf",
    "token_count",
    "similarity_search_rp",
)


def _shingles(text: str) -> set[str]:
    t = tokens(text)
    return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}


def prepare(ctx: Ctx) -> None:
    """Oracle answers of the queries that have registry oracle SQL,
    and the inputs the other checks need."""
    import numpy as np
    import pyarrow.parquet as pq

    con = duckdb_con(ctx.sf, TABLES)
    queries = ctx.queries
    ctx.truth = {
        q: oracle_rows(con, queries[q].oracle) for q in QUERIES if queries[q].oracle
    }
    docs = pq.read_table(f"{ctx.sf}/documents.parquet", columns=["doc_id", "text"]).to_pydict()
    ctx.texts = dict(zip(docs["doc_id"], docs["text"]))
    emb = pq.read_table(f"{ctx.sf}/embeddings.parquet").to_pydict()
    ctx.emb = np.array(emb["embedding"], dtype=np.float64)
    ctx.labels = np.array(emb["label"])
    ctx.exact = {tuple(p) for p in ctx.meta["exact_pairs"]}
    ctx.near = {tuple(p) for p in ctx.meta["near_pairs"]}
    ctx.jaccard = {}


def setup(ctx: Ctx) -> None:
    setup_program(ctx, TABLES)


def op(ctx: Ctx, i: int) -> dict:
    out = {}
    with ctx.span("curate.pass"):
        _pass(ctx, out)
    return out


def _pass(ctx: Ctx, out: dict) -> None:
    for q in QUERIES:
        with ctx.span(f"curate.{q}") as whole:
            with ctx.span(f"curate.{q}.plan"):
                df = ctx.queries[q].fn(ctx.spark, ctx.sf)
            with ctx.span(f"curate.{q}.exec"):
                pdf = df.toPandas()
        out[q] = (pdf, whole.wall)


def _pairs(pdf) -> set[tuple[int, int]]:
    return set(zip(pdf["doc_a"].tolist(), pdf["doc_b"].tolist()))


def check(ctx: Ctx, out: dict) -> None:
    import numpy as np

    for q, rows in ctx.truth.items():
        pdf = out[q][0]
        require(len(pdf) > 0, f"{q} returned no rows")
        got = spark_rows(list(pdf.columns), pdf.itertuples(index=False))
        require(got == rows, f"{q} differs from the oracle")
    dups = out["exact_dedup"][0]
    require(
        int((dups["n_copies"] - 1).sum()) == len(ctx.exact),
        "exact_dedup duplicate count differs from the planted share",
    )

    mh = out["minhash_lsh_dedup"][0]
    require(len(mh) > 0, "minhash_lsh_dedup returned no pairs")
    for a, b, j in zip(mh["doc_a"], mh["doc_b"], mh["jaccard"]):
        key = (int(a), int(b))
        if key not in ctx.jaccard:
            sa, sb = _shingles(ctx.texts[a]), _shingles(ctx.texts[b])
            ctx.jaccard[key] = len(sa & sb) / len(sa | sb)
        require(a < b and abs(ctx.jaccard[key] - j) < 1e-6 and j >= 0.5,
                f"minhash pair {key} has jaccard {j}")
    require(ctx.exact <= _pairs(mh), "minhash_lsh_dedup missed an exact duplicate")
    require(recall(ctx, out) >= RECALL_FLOOR,
            f"minhash_lsh_dedup recall {recall(ctx, out):.2f} below {RECALL_FLOOR}")

    sh = out["simhash_dedup"][0]
    require(len(sh) > 0, "simhash_dedup returned no pairs")
    require(bool((sh["doc_a"] < sh["doc_b"]).all()) and bool((sh["hamming"] <= 3).all()),
            "simhash_dedup pair outside its contract")
    require(ctx.exact <= _pairs(sh), "simhash_dedup missed an exact duplicate")

    rp = out["similarity_search_rp"][0]
    require(len(rp) > 0, "similarity_search_rp returned no rows")
    e = ctx.emb / np.linalg.norm(ctx.emb, axis=1, keepdims=True)
    for qid, grp in rp.groupby("query_id"):
        grp = grp.sort_values("rank")
        nb = grp["neighbor_id"].to_numpy()
        cos = e[nb] @ e[qid]
        require(list(grp["rank"]) == list(range(1, len(grp) + 1)), f"ranks of query {qid}")
        require(np.allclose(np.round(cos, 4), grp["cosine"], atol=1.5e-4),
                f"cosines of query {qid} differ from numpy")
        require(bool((np.diff(grp["cosine"].to_numpy()) <= 1e-9).all()),
                f"neighbours of query {qid} not in cosine order")
        require(bool((ctx.labels[nb] == ctx.labels[qid]).all()),
                f"a neighbour of query {qid} is outside its planted cluster")


def recall(ctx: Ctx, out: dict) -> float:
    """Share of the planted near-duplicate pairs that
    minhash_lsh_dedup recovers."""
    return len(ctx.near & _pairs(out["minhash_lsh_dedup"][0])) / len(ctx.near)


def report(ctx: Ctx, outs: list[dict], add) -> None:
    from stats import median

    walls = [sum(w for _, w in o.values()) for o in outs]
    add("curate_docs_per_s", ctx.meta["docs"] * len(QUERIES) / median(walls), "1/s")
    add("dedup_recall", recall(ctx, outs[-1]), "ratio")
