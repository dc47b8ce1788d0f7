"""Seeded benchmark inputs: the corpus split and the request sequences.

Everything here is a pure function of the ``--seed`` argument. The engine
only ever sees what these functions return.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np
import pandas as pd

from elastichash_spark.fixtures import HOT_TERM, gen_transcripts

# fixtures tier of the whole corpus (~1k turns over 50 conversations); the
# base index holds the first BASE_CONVS conversations, the rest arrive as
# append batches of BATCH_CONVS conversations each
TIER = "t1"
BASE_CONVS = 40
BATCH_CONVS = 2
KS = (1, 10, 100)
ABSENT_TERM = "zzabsentzz"
MINING_K = 5
MINING_CHARS = 60  # corpus-derived mining queries: 60-char text windows
PHRASE_HEAD = 20
SEARCH_KINDS = ("hot", "absent", "dup", "mixed")

_SPLIT = re.compile(r"[^a-z0-9]+")


def tokens(text: str | None) -> list[str]:
    """The pinned tokenizer (FIXTURES.md section 3): lowercase, split on
    non-alphanumerics, drop empties. Used only to derive inputs."""
    return [t for t in _SPLIT.split((text or "").lower()) if t]


@dataclass(frozen=True)
class Search:
    qid: int
    text: str
    k: int


@dataclass(frozen=True)
class Bool:
    qid: int
    text: str
    k: int
    must_not: str


@dataclass(frozen=True)
class Phrase:
    qid: int
    text: str
    k: int
    slop: int


@dataclass
class Corpus:
    base: pd.DataFrame
    batches: list[pd.DataFrame]

    def state(self, n_batches: int) -> pd.DataFrame:
        """The corpus after the first ``n_batches`` appends."""
        return pd.concat([self.base, *self.batches[:n_batches]], ignore_index=True)


def corpus(seed: int) -> Corpus:
    pdf = gen_transcripts(TIER, seed)
    conv_no = pdf["conv_id"].str[4:].astype(int)
    base = pdf[conv_no < BASE_CONVS].reset_index(drop=True)
    batches = [
        pdf[(conv_no >= c) & (conv_no < c + BATCH_CONVS)].reset_index(drop=True)
        for c in range(BASE_CONVS, int(conv_no.max()) + 1, BATCH_CONVS)
    ]
    return Corpus(base, batches)


class Requests:
    """Seeded request stream over one corpus (its vocabulary and texts)."""

    def __init__(self, seed: int, turns: pd.DataFrame):
        self.rng = np.random.default_rng(seed)
        self.texts = [tokens(t) for t in turns["text"]]
        df: dict[str, int] = {}
        for toks in self.texts:
            for t in set(toks):
                df[t] = df.get(t, 0) + 1
        df.pop(HOT_TERM, None)
        # vocabulary by descending document frequency (term-ascending ties)
        self.vocab = sorted(df, key=lambda t: (-df[t], t))
        self.next_qid = 0

    def _qid(self) -> int:
        self.next_qid += 1
        return self.next_qid

    def _term(self, lo: float = 0.0, hi: float = 1.0) -> str:
        """A vocabulary term from the [lo, hi) band of the df ranking."""
        n = len(self.vocab)
        return self.vocab[int(self.rng.integers(int(lo * n), max(int(hi * n), int(lo * n) + 1)))]

    def _k(self) -> int:
        return KS[int(self.rng.integers(len(KS)))]

    def search(self, kind: str) -> Search:
        """One request of a FIXTURES.md query kind (``SEARCH_KINDS``)."""
        if kind == "hot":
            terms = [HOT_TERM]
        elif kind == "absent":
            terms = [self._term(), ABSENT_TERM]
        elif kind == "dup":
            t = self._term()
            terms = [t, t, HOT_TERM]
        elif kind == "mixed":
            terms = [self._term() for _ in range(1 + int(self.rng.integers(5)))]
        else:
            raise ValueError(f"unknown search kind {kind!r}")
        return Search(self._qid(), " ".join(terms), self._k())

    def bool(self) -> Bool:
        # a hot or mixed ranking with one excluded term from the upper half
        # of the df ranking, so the exclusion removes candidates
        text = HOT_TERM if self.rng.random() < 0.5 else " ".join(
            self._term() for _ in range(2 + int(self.rng.integers(3))))
        return Bool(self._qid(), text, self._k(), self._term(0.0, 0.5))

    def phrase(self) -> Phrase:
        # a 2- or 3-token window of a real turn, so at least one doc matches,
        # made of distinctive tokens (none of the PHRASE_HEAD most frequent):
        # a phrase of head terms has thousands of coarse candidates and its
        # cost swings with how often the verify stage deepens
        head = {HOT_TERM, *self.vocab[:PHRASE_HEAD]}
        n = 2 + int(self.rng.integers(2))
        spans = [toks[i:i + n] for toks in self.texts for i in range(len(toks) - n + 1)
                 if not head.intersection(toks[i:i + n])]
        span = spans[int(self.rng.integers(len(spans)))]
        slop = (0, 0, 1, 2)[int(self.rng.integers(4))]
        return Phrase(self._qid(), " ".join(span), 10, slop)


def mining_queries(batch: pd.DataFrame) -> pd.DataFrame:
    """(qid, text): the 60-char text window of every non-empty turn of a
    batch, the query-by-document shape search_mining serves."""
    texts = [t[:MINING_CHARS] for t in batch["text"] if tokens(t[:MINING_CHARS])]
    return pd.DataFrame({"qid": np.arange(len(texts), dtype="int64"), "text": texts})
