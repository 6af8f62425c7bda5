"""Seeded Zipf corpus for the ``mr_corpus`` workload.

The corpus is a set of ``.txt`` shards (the task files' ``taskfn`` input)
plus one single-file ``documents.parquet`` (the ``source_df`` input), all
derived from one seed. Expected job outputs are counted from the generated
word ids, not by re-running the reference tokenizer, so they are an
independent check of the engine's tokenization (FIXTURES.md section 1:
whitespace split, ``[A-Za-z]+`` runs, lowercase).
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter, defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ZIPF_S = 1.1
VOCAB = 1_000_000
TOKENS = 1_000_000
SHARDS = 8
LINE_TOKENS = (6, 18)  # inclusive range of tokens per line
LINES_PER_DOC = 4
MIN_BIGRAM = 3  # bigram_count_task threshold (-a <dir>:<min>)
MIN_WORD = 5  # frequent_words_task threshold
TOP_K = 20  # finalfn keeps the k most frequent words
_PUNCT = list(",.;:!?") + ['"', ")"]


def _vocabulary(rng: np.random.Generator) -> list[str]:
    """VOCAB distinct random lowercase words of 2 to 9 letters, in the
    order drawn (the Zipf rank)."""
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    width = 9
    words = np.empty(0, dtype=f"S{width}")
    while len(words) < VOCAB:
        lengths = rng.integers(2, width + 1, size=VOCAB)
        codes = rng.choice(letters, size=(VOCAB, width))
        codes[np.arange(width) >= lengths[:, None]] = 0  # NUL padding ends the word
        drawn = np.concatenate([words, codes.view(f"S{width}").ravel()])
        _, first = np.unique(drawn, return_index=True)
        words = drawn[np.sort(first)][:VOCAB]
    return [w.decode() for w in words.tolist()]


def generate(seed: int, out_dir: str) -> dict:
    """Write the corpus for ``seed`` under ``out_dir``; return the layout
    and the expected outputs of every ``mr_corpus`` job."""
    rng = np.random.default_rng(seed)
    words = _vocabulary(rng)
    ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
    p = ranks**-ZIPF_S
    ids = rng.choice(VOCAB, size=TOKENS, p=p / p.sum())
    decorate = rng.random(TOKENS)
    punct = rng.integers(0, len(_PUNCT), size=TOKENS)

    # Lines of LINE_TOKENS tokens: token range [starts[k], ends[k]).
    lengths = rng.integers(LINE_TOKENS[0], LINE_TOKENS[1] + 1, size=TOKENS // LINE_TOKENS[0] + 1)
    ends = np.cumsum(lengths)
    ends = ends[: np.searchsorted(ends, TOKENS) + 1]
    ends[-1] = TOKENS
    starts = np.concatenate([[0], ends[:-1]])

    # Surface forms: some tokens capitalized, upper-cased or followed by
    # punctuation; the reference tokenization must still see the word.
    vocab = np.array(words, dtype=object)
    tok = vocab[ids]
    surf = tok.copy()
    cap = decorate < 0.08
    pun = (decorate >= 0.08) & (decorate < 0.14)
    upp = (decorate >= 0.14) & (decorate < 0.16)
    surf[cap] = [w.capitalize() for w in tok[cap]]
    surf[pun] = [w + _PUNCT[k] for w, k in zip(tok[pun], punct[pun].tolist())]
    surf[upp] = ["(" + w.upper() for w in tok[upp]]
    surf = surf.tolist()
    lines = [" ".join(surf[a:b]) for a, b in zip(starts.tolist(), ends.tolist())]

    text_dir = os.path.join(out_dir, "shards")
    os.makedirs(text_dir, exist_ok=True)
    per_shard = -(-len(lines) // SHARDS)
    shard_words: dict[str, np.ndarray] = {}
    shard_texts = []
    for s in range(SHARDS):
        name = f"shard-{s:02d}.txt"
        first, last = s * per_shard, min((s + 1) * per_shard, len(lines))
        text = "".join(ln + "\n" for ln in lines[first:last])
        with open(os.path.join(text_dir, name), "w", encoding="utf-8") as fh:
            fh.write(text)
        shard_texts.append(text)
        if last > first:
            shard_words[name] = np.unique(ids[starts[first] : ends[last - 1]])

    def word_counts(token_ids: np.ndarray) -> dict[str, int]:
        bc = np.bincount(token_ids, minlength=VOCAB)
        return {words[i]: int(bc[i]) for i in np.flatnonzero(bc).tolist()}

    counts = word_counts(ids)
    # Self-check of the generator: the decorations must not change what the
    # reference tokenization extracts.
    regex_counts = Counter(
        w.lower() for t in shard_texts for w in re.findall(r"[A-Za-z]+", t)
    )
    if regex_counts != Counter(counts):
        raise RuntimeError("corpus generator: decorated tokens changed the word counts")

    # Bigrams within a line, as (first id, second id) packed into one key.
    line_start = np.zeros(TOKENS, dtype=bool)
    line_start[starts] = True
    inner = ~line_start[1:]
    keys, key_counts = np.unique(ids[:-1][inner] * VOCAB + ids[1:][inner], return_counts=True)
    keep = key_counts >= MIN_BIGRAM
    bigrams = [
        (f"{words[k // VOCAB]} {words[k % VOCAB]}", int(c))
        for k, c in zip(keys[keep].tolist(), key_counts[keep].tolist())
    ]

    # documents.parquet: the first shard's lines grouped into documents, one
    # file and one row group, so Spark reads it as a single split.
    doc_lines = lines[:per_shard]
    texts = [" ".join(doc_lines[d : d + LINES_PER_DOC]) for d in range(0, len(doc_lines), LINES_PER_DOC)]
    doc_counts = word_counts(ids[: ends[len(doc_lines) - 1]])
    table = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array([f"src{d % 4}" for d in range(len(texts))], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    docs_dir = os.path.join(out_dir, "docs")
    os.makedirs(docs_dir, exist_ok=True)
    pq.write_table(table, os.path.join(docs_dir, "documents.parquet"), row_group_size=len(texts))

    postings = defaultdict(list)
    for name in sorted(shard_words):
        for i in shard_words[name].tolist():
            postings[words[i]].append(name)
    frequent = {w: c for w, c in counts.items() if c >= MIN_WORD}
    top = sorted(frequent.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_K]
    expected = {
        "wordcount": sorted(counts.items()),
        "inverted_index": sorted((w, ",".join(fs)) for w, fs in postings.items() if len(fs) >= 2),
        "bigram_count": sorted(bigrams),
        "frequent_words": sorted(frequent.items()),
        "frequent_words_top": [list(kv) for kv in top],
        "docs_wordcount": sorted(doc_counts.items()),
    }
    layout = {
        "zipf_s": ZIPF_S,
        "vocabulary": VOCAB,
        "tokens": TOKENS,
        "distinct_words": len(counts),
        "shards": SHARDS,
        "lines": len(lines),
        "shard_dir": text_dir,
        "documents": {"dir": docs_dir, "rows": len(texts), "tokens": int(sum(doc_counts.values()))},
        "bytes": sum(len(t.encode()) for t in shard_texts),
    }
    with open(os.path.join(out_dir, "layout.json"), "w") as fh:
        json.dump(layout, fh, indent=1, sort_keys=True)
    return {"layout": layout, "expected": expected}
