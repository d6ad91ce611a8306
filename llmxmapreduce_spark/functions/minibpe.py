"""Miniature byte-pair encoder (vendored, dependency-free).

A tiny, deterministic BPE implementing the standard greedy merge
algorithm (Sennrich et al., arXiv:1508.07909 — the same loop tiktoken
and HuggingFace tokenizers run): split text on whitespace, start each
word as its character sequence, repeatedly merge the adjacent pair with
the LOWEST merge rank until no listed pair remains.  Ids are assigned
deterministically from the merges table alone (0 = <unk>, then the
sorted base alphabet, then merge products in table order), so the same
merges file produces the same ids on every executor with no state.

Purpose: this container has neither ``tiktoken`` nor ``transformers``,
which left ``packing.resolve_token_counter``'s string-spec path
(``"tiktoken:…"``/``"hf:…"`` → lazily-built per-executor encoder,
packing.py:49-69) import-gated and never executed under pytest.  The
``"minibpe:<merges-file>"`` spec routes through the SAME plumbing —
string spec → pandas UDF → per-executor ``_ENCODER_CACHE`` build — with
a checked-in merges fixture, so the real-tokenizer path is exercised
end-to-end (tests/test_minibpe.py) instead of trusted on inspection.

Not a production tokenizer: no byte fallback, no special tokens, no
regex pre-splitting — word-internal character BPE only.  Real trainers
plug in their real encoder via the tiktoken/hf specs; the packing
ledger is counted with whatever the trainer will use.
"""

from __future__ import annotations

from functools import lru_cache


def load_merges(path: str) -> list[tuple[str, str]]:
    """Read a merges file: one merge per line, two space-separated
    symbols, ``#``-prefixed lines and blanks skipped.  Line order IS
    merge priority (rank 0 first), the BPE contract."""
    merges = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.rstrip("\n")
            if not line or line.startswith("#"):
                continue
            a, _, b = line.partition(" ")
            if not a or not b or " " in b:
                raise ValueError(f"malformed merge line: {line!r}")
            merges.append((a, b))
    return merges


class MiniBPE:
    """Deterministic character-level BPE over a merges table.

    ``encode(text) -> list[int]``: whitespace-split words, each word
    merged greedily by rank; unknown characters map to id 0 (<unk>).
    Null-free by contract (callers handle None — the packing UDF maps
    null text to 0 tokens before the encoder sees it)."""

    UNK = 0

    def __init__(self, merges: list[tuple[str, str]]):
        if not merges:
            raise ValueError("MiniBPE needs at least one merge")
        self.ranks = {pair: i for i, pair in enumerate(merges)}
        alphabet = sorted({c for pair in merges for sym in pair
                           for c in sym})
        self.vocab: dict[str, int] = {"<unk>": self.UNK}
        for c in alphabet:
            self.vocab.setdefault(c, len(self.vocab))
        for a, b in merges:
            self.vocab.setdefault(a + b, len(self.vocab))
        # bound the per-word memo: real corpora have Zipf-bounded word
        # inventories, but an executor is long-lived
        self._word_syms = lru_cache(maxsize=65_536)(self._merge_word)

    def _merge_word(self, word: str) -> tuple[str, ...]:
        seq: list[str] = list(word)
        while len(seq) > 1:
            best_rank, best_pair = None, None
            for i in range(len(seq) - 1):
                r = self.ranks.get((seq[i], seq[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_pair = r, (seq[i], seq[i + 1])
            if best_pair is None:
                break
            merged, i = [], 0
            while i < len(seq):
                if (i < len(seq) - 1
                        and (seq[i], seq[i + 1]) == best_pair):
                    merged.append(seq[i] + seq[i + 1])
                    i += 2
                else:
                    merged.append(seq[i])
                    i += 1
            seq = merged
        return tuple(seq)

    def encode(self, text: str) -> list[int]:
        out: list[int] = []
        for word in text.split():
            for sym in self._word_syms(word):
                out.append(self.vocab.get(sym, self.UNK))
        return out

    def decode_symbols(self, ids: list[int]) -> list[str]:
        """Inverse id→symbol lookup (test aid; <unk> renders as itself)."""
        rev = {i: s for s, i in self.vocab.items()}
        return [rev.get(i, "<unk>") for i in ids]


def learn_merges(word_counts, n_merges: int) -> list[tuple[str, str]]:
    """Sennrich BPE training (arXiv:1508.07909 Alg. 1) over a
    ``(word, count)`` frequency table: repeatedly merge the most
    frequent adjacent symbol pair, count-weighted by word frequency.
    Deterministic: ties break on the lexicographically smallest pair,
    never on dict/partition order.  Stops early when no pair occurs
    twice (merging a count-1 pair memorizes a single word).

    This is the classic formulation that trains on the WORD INVENTORY,
    not the raw corpus — the whole reason BPE training scales: the
    corpus-wide work is one word-count aggregation (see
    ``vocab.train_bpe``), and this loop touches only the bounded
    (word, count) table, like the quality classifier's driver-side fit."""
    vocab: dict[tuple[str, ...], int] = {}
    for w, c in word_counts:
        if w:
            k = tuple(w)
            vocab[k] = vocab.get(k, 0) + int(c)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        best, best_c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best_c < 2:
            break
        merges.append(best)
        a, b = best
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, c in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            k = tuple(out)
            new_vocab[k] = new_vocab.get(k, 0) + c
        vocab = new_vocab
    return merges


def save_merges(merges: list[tuple[str, str]], path: str) -> None:
    """Write a merges table in the `load_merges` format (one
    space-separated pair per line, line order = rank) — the bridge from
    ``learn_merges`` to the ``"minibpe:<path>"`` tokenizer spec."""
    with open(path, "w", encoding="utf-8") as f:
        for a, b in merges:
            f.write(f"{a} {b}\n")
