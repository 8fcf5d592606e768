"""Seeded input generator for the benchmark's workloads.

Everything the engine sees is derived from ``(seed, sizes)`` through one
``random.Random`` and one ``numpy`` generator, so the same seed always
yields byte-identical inputs; :func:`digest` fingerprints them for the
run record.

* ``corpus``  — dedup_batch: singleton documents plus planted near-dup
  *chain* families. Adjacent chain members clear Jaccard 0.6 on the
  engine's 8-char shingles and members two links apart do not, so each
  family's pair graph is a path and connected components needs one
  round per link of the longest path LSH keeps whole.
* ``stream``  — stream_admission: ``(doc_id, text, embedding)`` records.
  ``id % 10 == 9`` are arrivals, the rest is history (the split the
  registry's st12/st13 oracles use). Arrivals plant near-dups of
  history and of earlier arrivals, with text and vector planted
  together so both admission paths see the same families.
"""

from __future__ import annotations

import hashlib
import json
import random

import numpy as np

SHINGLE_N = 8
JACCARD_THRESHOLD = 0.6

#: sizes per workload; recorded in every run's output
SIZES = {
    "dedup_batch": {"docs": 800, "chain_share": 0.3, "chain_len": 8,
                    "words_per_doc": (30, 40), "edits_per_link": 3},
    "stream_admission": {"records": 400, "batches": 3, "dim": 64,
                         "history_dup_share": 0.3, "arrival_dup_share": 0.2},
}


def vocabulary(rng: random.Random, n: int = 1500) -> list[str]:
    """``n`` distinct lowercase words of 3-9 letters."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
    return sorted(words)


def _zipf_weights(n: int) -> list[float]:
    return [1.0 / (i + 1) ** 0.8 for i in range(n)]


def shingles(text: str) -> set[str]:
    """The engine's shingle set: lowercased 8-char substrings (a text
    shorter than 8 chars is its own single shingle)."""
    t = text.lower()
    if len(t) <= SHINGLE_N:
        return {t}
    return {t[i:i + SHINGLE_N] for i in range(len(t) - SHINGLE_N + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def _doc(rng, vocab, weights, lo_hi) -> list[str]:
    return rng.choices(vocab, weights, k=rng.randint(*lo_hi))


def _edit(rng, words: list[str], vocab: list[str], n_edits: int) -> list[str]:
    out = list(words)
    for pos in rng.sample(range(len(out)), n_edits):
        out[pos] = rng.choice(vocab)
    return out


def _chain(rng, vocab, weights, size) -> list[str]:
    """One chain family whose similarity graph at the threshold is a
    path: adjacent members clear it with a margin and members two links
    apart do not (so no shortcut edge, and the ends are far apart).
    Re-drawn until that holds."""
    while True:
        words = _doc(rng, vocab, weights, size["words_per_doc"])
        members = [" ".join(words)]
        for _ in range(size["chain_len"] - 1):
            words = _edit(rng, words, vocab, size["edits_per_link"])
            members.append(" ".join(words))
        if all(jaccard(a, b) >= JACCARD_THRESHOLD + 0.05
               for a, b in zip(members, members[1:])) and all(
                jaccard(a, b) < JACCARD_THRESHOLD
                for a, b in zip(members, members[2:])):
            return members


def corpus(seed: int) -> list[tuple[int, str]]:
    """``[(doc_id, text)]`` for dedup_batch. Chain members get increasing
    ids along the chain (interleaved with everything else), so min-label
    propagation walks a whole chain; with 30 chains, some chain survives
    LSH intact on practically every seed and the round count is
    ``chain_len - 1``."""
    size = SIZES["dedup_batch"]
    rng = random.Random(f"corpus:{seed}")
    vocab = vocabulary(rng)
    weights = _zipf_weights(len(vocab))
    n = size["docs"]
    n_chains = int(n * size["chain_share"]) // size["chain_len"]
    texts: list[str | None] = [None] * n
    ids = list(range(n))
    rng.shuffle(ids)
    for c in range(n_chains):
        slots = sorted(ids[c * size["chain_len"]:(c + 1) * size["chain_len"]])
        for slot, text in zip(slots, _chain(rng, vocab, weights, size)):
            texts[slot] = text
    for i in range(n):
        if texts[i] is None:
            texts[i] = " ".join(_doc(rng, vocab, weights, size["words_per_doc"]))
    return [(i + 1, t) for i, t in enumerate(texts)]


def stream(seed: int) -> list[tuple[int, str, list[float]]]:
    """``[(doc_id, text, embedding)]`` for stream_admission, ordered by
    id. An arrival (``id % 10 == 9``) is, by draw, a near-dup of a
    history record, a near-dup of an earlier arrival, or fresh; a near-dup
    gets an edited copy of the source text and the source vector plus
    small noise."""
    size = SIZES["stream_admission"]
    rng = random.Random(f"stream:{seed}")
    nrng = np.random.default_rng(seed)
    vocab = vocabulary(rng)
    weights = _zipf_weights(len(vocab))
    words_per_doc = SIZES["dedup_batch"]["words_per_doc"]
    rows: list[tuple[int, str, list[float]]] = []
    history: list[int] = []
    arrivals: list[int] = []
    for doc_id in range(1, size["records"] + 1):
        r = rng.random()
        source = None
        if doc_id % 10 == 9:
            if r < size["history_dup_share"] and history:
                source = rng.choice(history)
            elif r < size["history_dup_share"] + size["arrival_dup_share"] and arrivals:
                source = rng.choice(arrivals)
        if source is None:
            text = " ".join(_doc(rng, vocab, weights, words_per_doc))
            vec = nrng.standard_normal(size["dim"])
        else:
            _, src_text, src_vec = rows[source - 1]
            text = " ".join(_edit(rng, src_text.split(), vocab, 2))
            vec = np.asarray(src_vec) + 0.1 * nrng.standard_normal(size["dim"])
        vec = vec / np.linalg.norm(vec)
        rows.append((doc_id, text, [round(float(x), 6) for x in vec]))
        (arrivals if doc_id % 10 == 9 else history).append(doc_id)
    return rows


def arrival_batches(rows, n_batches: int) -> list[list]:
    """Arrivals split into ``n_batches`` id-ordered micro-batch files."""
    arr = [r for r in rows if r[0] % 10 == 9]
    step = -(-len(arr) // n_batches)
    return [arr[i:i + step] for i in range(0, len(arr), step)]


def digest(obj) -> str:
    """A short sha256 over the canonical JSON form of generated inputs."""
    blob = json.dumps(obj, separators=(",", ":")).encode()
    return hashlib.sha256(blob).hexdigest()[:16]
