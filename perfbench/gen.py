"""Seeded input generator for the benchmark.

Every input is a pure function of ``(workload, seed)``: the same seed
gives byte-identical files, another seed gives other text of the same
shape.  The program under test only ever sees the files written here.

Text model: a 50k-word a-z vocabulary built from pronounceable
syllables (so the quality and language gates see word-like text, not
random letters), drawn with Zipf(1.1) rank frequencies, shorter words
taking the higher ranks.  Documents are sentences with capitals, commas
and full stops, broken into lines, so the reference normalizer
(lowercase, drop non a-z) does real work.  The fixed terms of the
registered stored-index queries are planted at chosen ranks.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50_000
ZIPF_S = 1.1

# Fixed terms of the registered stored-index queries
# (operators/inverted_index.py: TERM, AND_TERMS, OR_TERMS, NOT_TERMS,
# the phrase 'table hash', PREFIX 's'), planted at these Zipf ranks so
# every query has a non-trivial answer: at rank 1000 a word is expected
# ~28 times in the 400k-token corpus, so no seed leaves one out.  The
# search ground truth fails loudly if the package's constants stop
# naming planted words.
PLANTED_RANKS = {
    "table": 30,
    "scan": 60,
    "window": 90,
    "join": 150,
    "hash": 260,
    "vector": 400,
    "stream": 800,
    "merge": 1_000,
}
PHRASE = ("table", "hash")

_ONSETS = ("", "b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p",
           "r", "s", "t", "v", "w", "y", "z", "br", "ch", "cl", "cr", "dr",
           "fl", "fr", "gl", "gr", "pl", "pr", "sh", "sk", "sl", "sp", "st",
           "str", "th", "tr", "wh")
_VOWELS = ("a", "e", "i", "o", "u", "a", "e", "i", "o", "ai", "ea", "ee",
           "oo", "ou", "ie")
_CODAS = ("", "", "", "n", "r", "s", "t", "l", "m", "nd", "st", "ng", "ck",
          "rt", "x")

# Workload shapes.  Totals are fixed per workload (only the content
# varies with the seed) so timings compare across seeds.
BUILD_DOCS = 300
BUILD_TOKENS = 400_000  # ~1.8 MiB of text
CURATE_DOCS = 1_000
CURATE_MEAN_TOKENS = 110
CURATE_EXACT_SHARE = 0.10
CURATE_NEAR_SHARE = 0.10
CURATE_NEAR_EDIT = 0.05
EMB_ROWS = 5_000
EMB_DIM = 64
EMB_CLUSTERS = 40


def vocabulary(rng: np.random.Generator) -> list[str]:
    """VOCAB distinct a-z words in rank order (rank 1 first), planted
    terms at their PLANTED_RANKS."""
    n_syl = rng.choice([1, 2, 2, 3, 3, 4], size=4 * VOCAB)
    parts = [
        rng.integers(0, len(p), size=(4 * VOCAB, 4))
        for p in (_ONSETS, _VOWELS, _CODAS)
    ]
    seen = set(PLANTED_RANKS)
    words: list[str] = []
    for i in range(4 * VOCAB):
        w = "".join(
            _ONSETS[parts[0][i, j]] + _VOWELS[parts[1][i, j]] + _CODAS[parts[2][i, j]]
            for j in range(n_syl[i])
        )
        if len(w) >= 2 and w not in seen:
            seen.add(w)
            words.append(w)
        if len(words) == VOCAB - len(PLANTED_RANKS):
            break
    else:
        raise RuntimeError("syllable space too small for the vocabulary")
    # law of abbreviation: shorter words take the frequent ranks
    key = np.array([len(w) for w in words]) + rng.random(len(words)) * 4
    words = [words[i] for i in np.argsort(key, kind="stable")]
    for w, r in sorted(PLANTED_RANKS.items(), key=lambda kv: kv[1]):
        words.insert(r - 1, w)
    return words


def absent_terms(rng: np.random.Generator, vocab: list[str], n: int) -> list[str]:
    """a-z words that are not in the vocabulary (bloom-lookup misses)."""
    vs = set(vocab)
    out: list[str] = []
    while len(out) < n:
        w = "q" + "".join(rng.choice(list("aeiouxz"), size=int(rng.integers(4, 9))))
        if w not in vs and w not in out:
            out.append(w)
    return out


def _zipf_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    p = np.arange(1, VOCAB + 1, dtype=np.float64) ** -ZIPF_S
    cdf = np.cumsum(p / p.sum())
    return np.minimum(np.searchsorted(cdf, rng.random(n)), VOCAB - 1)


def _lengths(rng: np.random.Generator, n_docs: int, total: int, sigma: float) -> np.ndarray:
    """Lognormal document lengths scaled to exactly ``total`` tokens."""
    raw = rng.lognormal(0.0, sigma, size=n_docs)
    lens = np.maximum(8, np.floor(raw / raw.sum() * total)).astype(np.int64)
    lens[np.argmax(lens)] += total - lens.sum()
    return lens


def render(rng: np.random.Generator, words: list[str]) -> str:
    """Words -> text: sentences of 5-16 words with a capital and a full
    stop, an occasional comma, lines of about 12 words."""
    out: list[str] = []
    i, n = 0, len(words)
    line_len = 0
    while i < n:
        k = int(rng.integers(5, 17))
        sent = list(words[i : i + k])
        i += k
        sent[0] = sent[0].capitalize()
        if len(sent) > 6:
            c = int(rng.integers(2, len(sent) - 2))
            sent[c] += ","
        sent[-1] += "."
        for w in sent:
            if line_len >= 12:
                out.append("\n")
                line_len = 0
            elif line_len:
                out.append(" ")
            out.append(w)
            line_len += 1
    out.append("\n")
    return "".join(out)


def _plant_phrase(rng: np.random.Generator, ids: np.ndarray, vocab_ix: dict[str, int]) -> None:
    """Write the phrase at one in 3000 token positions, so the phrase
    query matches about a third of the documents."""
    a, b = vocab_ix[PHRASE[0]], vocab_ix[PHRASE[1]]
    pos = rng.choice(len(ids) - 1, size=max(1, len(ids) // 3000), replace=False)
    ids[pos] = a
    ids[pos + 1] = b


def _write_documents(path: str, texts: list[str], first_id: int) -> None:
    n = len(texts)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    table = pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": ["en"] * n,
            "source": [f"src{i % 4}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    pq.write_table(table, path, row_group_size=max(1, n // 4))


def _finish(out_dir: str, meta: dict) -> None:
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    open(os.path.join(out_dir, "_COMPLETE"), "w").close()


def gen_corpus(out_dir: str, seed: int) -> dict:
    """The ``build``/``search`` corpus: BUILD_DOCS text files, and the
    same texts as ``sf/documents.parquet`` with doc_id = the file's
    1-based position in name order (the manifest order)."""
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary(rng)
    ix = {w: i for i, w in enumerate(vocab)}
    lens = _lengths(rng, BUILD_DOCS, BUILD_TOKENS, sigma=0.8)
    ids = _zipf_ids(rng, BUILD_TOKENS)
    _plant_phrase(rng, ids, ix)
    bounds = np.concatenate([[0], np.cumsum(lens)])
    files_dir = os.path.join(out_dir, "corpus")
    os.makedirs(files_dir)
    texts: list[str] = []
    for d in range(BUILD_DOCS):
        text = render(rng, [vocab[j] for j in ids[bounds[d] : bounds[d + 1]]])
        texts.append(text)
        with open(os.path.join(files_dir, f"doc{d + 1:05d}.txt"), "w") as f:
            f.write(text)
    sf = os.path.join(out_dir, "sf")
    os.makedirs(sf)
    _write_documents(os.path.join(sf, "documents.parquet"), texts, first_id=1)
    in_corpus = np.unique(ids)
    meta = {
        "seed": seed,
        "docs": BUILD_DOCS,
        "tokens": BUILD_TOKENS,
        "text_bytes": sum(len(t) for t in texts),
        "vocab": vocab,
        "present_ranks": in_corpus.tolist(),
        "absent": absent_terms(rng, vocab, 64),
    }
    _finish(out_dir, meta)
    return meta


def _near_dup(rng: np.random.Generator, toks: list[str], vocab: list[str]) -> list[str]:
    """Change ~CURATE_NEAR_EDIT of the words (at least one)."""
    out = list(toks)
    k = max(1, int(round(len(out) * CURATE_NEAR_EDIT)))
    for p in rng.choice(len(out), size=k, replace=False):
        out[p] = vocab[int(rng.integers(1000, VOCAB))]
    return out


def gen_curate(out_dir: str, seed: int) -> dict:
    """The ``curate`` inputs: CURATE_DOCS short docs of which
    CURATE_EXACT_SHARE are byte copies and CURATE_NEAR_SHARE are
    near-copies (CURATE_NEAR_EDIT of words changed) of earlier docs,
    plus ``embeddings.parquet`` with EMB_CLUSTERS planted clusters."""
    rng = np.random.default_rng([seed, 2])
    vocab = vocabulary(rng)
    n_exact = int(CURATE_DOCS * CURATE_EXACT_SHARE)
    n_near = int(CURATE_DOCS * CURATE_NEAR_SHARE)
    n_orig = CURATE_DOCS - n_exact - n_near
    lens = _lengths(rng, n_orig, n_orig * CURATE_MEAN_TOKENS, sigma=0.6)
    ids = _zipf_ids(rng, int(lens.sum()))
    bounds = np.concatenate([[0], np.cumsum(lens)])
    toks = [[vocab[j] for j in ids[bounds[d] : bounds[d + 1]]] for d in range(n_orig)]
    texts = [render(rng, t) for t in toks]
    # near-copies come from docs of >= 40 words, where a 5% edit keeps
    # the 3-shingle Jaccard above the dedup threshold (0.5)
    long_docs = np.flatnonzero(lens >= 40)
    srcs = rng.choice(long_docs, size=n_exact + n_near, replace=False)
    exact_pairs, near_pairs = [], []
    for k, s in enumerate(srcs):
        new_id = len(texts)
        if k < n_exact:
            texts.append(texts[s])
            exact_pairs.append((int(s), new_id))
        else:
            texts.append(render(rng, _near_dup(rng, toks[s], vocab)))
            near_pairs.append((int(s), new_id))
    # shuffle positions so copies are not all at the end
    perm = rng.permutation(len(texts))
    pos = np.empty_like(perm)
    pos[perm] = np.arange(len(texts))
    texts = [texts[i] for i in perm]
    sf = os.path.join(out_dir, "sf")
    os.makedirs(sf)
    _write_documents(os.path.join(sf, "documents.parquet"), texts, first_id=0)

    def remap(pairs):
        return sorted(tuple(sorted((int(pos[a]), int(pos[b])))) for a, b in pairs)

    centers = rng.normal(0.0, 1.0, size=(EMB_CLUSTERS, EMB_DIM))
    labels = rng.integers(0, EMB_CLUSTERS, size=EMB_ROWS)
    emb = centers[labels] + rng.normal(0.0, 0.15, size=(EMB_ROWS, EMB_DIM))
    emb = (emb * 0.1).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": np.arange(EMB_ROWS, dtype=np.int64),
                "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
                "label": labels.astype(np.int32),
            }
        ),
        os.path.join(sf, "embeddings.parquet"),
        row_group_size=EMB_ROWS // 4,
    )
    meta = {
        "seed": seed,
        "docs": CURATE_DOCS,
        "text_bytes": sum(len(t) for t in texts),
        "exact_pairs": remap(exact_pairs),
        "near_pairs": remap(near_pairs),
        "emb_rows": EMB_ROWS,
    }
    _finish(out_dir, meta)
    return meta


GENERATORS = {"corpus": gen_corpus, "curate": gen_curate}


def ensure(root: str, kind: str, seed: int) -> tuple[str, dict]:
    """Generate (or reuse) the ``kind`` inputs for ``seed`` under
    ``root``; returns (dir, meta).  Inputs are keyed on this file's
    content too, so a changed generator never serves stale inputs.
    Other inputs of the same kind are removed so the work directory
    stays bounded."""
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    name = f"{kind}-{version}-s{seed}"
    out = os.path.join(root, name)
    if not os.path.isfile(os.path.join(out, "_COMPLETE")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        GENERATORS[kind](out, seed)
    if os.path.isdir(root):
        for other in os.listdir(root):
            if other.startswith(f"{kind}-") and other != name:
                shutil.rmtree(os.path.join(root, other), ignore_errors=True)
    with open(os.path.join(out, "meta.json")) as f:
        return out, json.load(f)


if __name__ == "__main__":
    # python3 gen.py <root> <kind> <seed>: generate (or reuse) and print
    # the input directory
    import sys

    print(ensure(sys.argv[1], sys.argv[2], int(sys.argv[3]))[0])
