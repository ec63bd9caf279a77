"""Seeded input generators.  The same seed always gives byte-identical files.

Two table families, written with pyarrow (no Spark):

* transcripts, in the ``input_hint`` schema (conv_id, turn_idx, role, text,
  tool, ts).  Words follow a Zipf law over a syllable vocabulary, so the
  number of distinct terms grows with corpus size as Heaps' law predicts;
  turn lengths are lognormal; a small share of tokens exercises every
  tokenizer rule (hyphens, edge punctuation, quotes, apostrophes,
  non-ASCII, upper case, dotted numbers, paths).
* documents + embeddings, in the testdata schema, with the testdata
  distributions (a small database-word vocabulary, 5 languages at the
  testdata shares, unit 64-d vectors that are near-orthogonal) plus a
  planted share of exact and near duplicates so every curation op has
  something to find.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROLES = ("user", "assistant", "tool", "system")
ROLE_P = (0.35, 0.40, 0.20, 0.05)
TOOLS = ("bash", "search", "browser", "editor", "python")

# tokens that each hit a tokenizer rule (tests/test_tokenizer.py covers them)
SPECIAL = (
    "Hewlett-Packard-Computing", "state-of-the-art", "top-k", "quick-fix",
    "Hello.", "world!", "(done)", "Why?", "don't", "it's", '"quoted"',
    "café", "naïve", "über", "192.168.1.1", "v2.3.1", "src/main.py",
    "--verbose", "-", "...", "SELECT", "HTTP/1.1", "O'Brien", "x86_64",
)

_CONS = "bcdfghjklmnprstvz"
_VOWELS = "aeiou"
_SYLLABLES = [c + v for c in _CONS for v in _VOWELS]

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

EPOCH_US = int(datetime(2026, 1, 1, tzinfo=timezone.utc).timestamp() * 1_000_000)


def word(rank: int) -> str:
    """Pronounceable lower-case word for a Zipf rank; distinct ranks give
    distinct words.  The final ``k`` keeps Porter2 from folding most of them
    together (no English suffix ends in k)."""
    n = len(_SYLLABLES)
    parts = [_SYLLABLES[rank % n]]
    rank //= n
    while rank:
        parts.append(_SYLLABLES[rank % n])
        rank //= n
    return "".join(parts) + "k"


def zipf_cdf(vocab: int, exponent: float) -> np.ndarray:
    p = 1.0 / np.arange(1, vocab + 1, dtype=np.float64) ** exponent
    cdf = np.cumsum(p)
    return cdf / cdf[-1]


def transcript_rows(
    seed: int,
    n_turns: int,
    vocab: int,
    exponent: float = 1.0,
    len_mu: float = 3.6,
    len_sigma: float = 0.6,
    special_share: float = 0.03,
) -> dict[str, list]:
    """Columns of a transcript table with exactly ``n_turns`` turns."""
    rng = np.random.default_rng(seed)
    lengths = np.clip(rng.lognormal(len_mu, len_sigma, n_turns).astype(np.int64), 1, 400)
    n_tokens = int(lengths.sum())
    ranks = np.searchsorted(zipf_cdf(vocab, exponent), rng.random(n_tokens))
    special = rng.random(n_tokens) < special_share
    special_pick = rng.integers(0, len(SPECIAL), n_tokens)
    capital = rng.random(n_tokens) < 0.02
    words: dict[int, str] = {}
    toks = []
    for r, s, sp, cap in zip(ranks.tolist(), special.tolist(), special_pick.tolist(), capital.tolist()):
        if s:
            toks.append(SPECIAL[sp])
            continue
        w = words.get(r)
        if w is None:
            w = words[r] = word(r)
        toks.append(w.capitalize() if cap else w)

    roles = rng.choice(len(ROLES), n_turns, p=ROLE_P)
    tool_pick = rng.integers(0, len(TOOLS), n_turns)
    conv_len = rng.integers(3, 16, n_turns)  # turns per conversation
    cols: dict[str, list] = {k: [] for k in TRANSCRIPT_SCHEMA.names}
    conv, turn, off = 0, 0, 0
    for i in range(n_turns):
        if turn >= conv_len[conv]:
            conv, turn = conv + 1, 0
        n = int(lengths[i])
        role = ROLES[roles[i]]
        cols["conv_id"].append(f"c{seed % 1000:03d}-{conv:07d}")
        cols["turn_idx"].append(turn)
        cols["role"].append(role)
        cols["text"].append(" ".join(toks[off : off + n]))
        cols["tool"].append(TOOLS[tool_pick[i]] if role == "tool" else None)
        cols["ts"].append(EPOCH_US + i * 1_000_000)
        off += n
        turn += 1
    return cols


def write_transcripts(path: str, cols: dict[str, list]) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pydict(cols, schema=TRANSCRIPT_SCHEMA)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


# --- curation tables (testdata schema) --------------------------------------

DB_WORDS = (
    "a the agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
# marker words so the language ops have something to separate per language
LANG_WORDS = {
    "en": "the a of and to in".split(),
    "zh": [],
    "es": "el la de que los y".split(),
    "fr": "le la les et des du".split(),
    "de": "der die das und ist ein".split(),
}

DOCUMENTS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
EMBEDDINGS_SCHEMA = pa.schema(
    [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
)


def documents_rows(seed: int, n_docs: int, dup_share: float = 0.04, near_share: float = 0.04) -> dict:
    rng = np.random.default_rng(seed + 1)
    texts: list[str] = []
    langs: list[str] = []
    for i in range(n_docs):
        u = rng.random()
        if texts and u < dup_share:  # exact copy of an earlier doc
            j = int(rng.integers(0, len(texts)))
            texts.append(texts[j])
            langs.append(langs[j])
            continue
        if texts and u < dup_share + near_share:  # one word replaced
            j = int(rng.integers(0, len(texts)))
            w = texts[j].split(" ")
            w[int(rng.integers(0, len(w)))] = DB_WORDS[int(rng.integers(0, len(DB_WORDS)))]
            texts.append(" ".join(w))
            langs.append(langs[j])
            continue
        lang = LANGS[rng.choice(len(LANGS), p=LANG_P)]
        n = int(rng.integers(8, 90))
        vocab = DB_WORDS + LANG_WORDS[lang] * 3
        texts.append(" ".join(vocab[k] for k in rng.integers(0, len(vocab), n)))
        langs.append(lang)
    return {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    }


def embeddings_rows(seed: int, n_vecs: int, dim: int = 64, near_share: float = 0.03) -> dict:
    rng = np.random.default_rng(seed + 2)
    x = rng.standard_normal((n_vecs, dim))
    near = np.flatnonzero(rng.random(n_vecs) < near_share)
    near = near[near > 0]
    src = rng.integers(0, near, near.size) if near.size else near
    x[near] = x[src] + 0.35 * rng.standard_normal((near.size, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": list(range(n_vecs)),
        "embedding": [row.astype(np.float32).tolist() for row in x],
        "label": rng.integers(0, 10, n_vecs).astype(np.int32).tolist(),
    }


def write_curation(path: str, seed: int, n_docs: int, n_vecs: int) -> dict:
    """Writes documents.parquet and embeddings.parquet; returns the documents."""
    os.makedirs(path, exist_ok=True)
    docs = documents_rows(seed, n_docs)
    pq.write_table(
        pa.Table.from_pydict(docs, schema=DOCUMENTS_SCHEMA),
        os.path.join(path, "documents.parquet"),
    )
    pq.write_table(
        pa.Table.from_pydict(embeddings_rows(seed, n_vecs), schema=EMBEDDINGS_SCHEMA),
        os.path.join(path, "embeddings.parquet"),
    )
    return docs
