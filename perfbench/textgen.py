"""Seeded corpus for the ``curate`` workload, and the pure-Python oracles
its checks compare against.

Traffic dimensions (recorded in every result):

- ``CORPUS_DOCS`` documents after planting, of which
  - ``SHORT_SHARE`` have 3-9 tokens (fail the Gopher token floor),
  - ``JUNK_SHARE`` are digit/symbol tokens (fail the alphabetic-word ratio),
  - ``NOSTOP_SHARE`` use content words only (fail the stop-word rule),
  - ``EXACT_SHARE`` are exact duplicates of a normal document (case of the
    first letter and spacing vary, the normalized text does not),
  - ``NEAR_SHARE`` are near duplicates: a normal document of at least 30
    tokens with ``NEAR_EDITS`` tokens replaced,
  - ``CONTAM_SHARE`` of the normal documents carry a ``CONTAM_SPAN``-token
    span copied from an eval document;
- lengths of normal, junk and stop-word-free documents are lognormal
  (median ``LEN_MEDIAN`` tokens, sigma ``LEN_SIGMA``) clipped to [10, 400],
  taken at evenly spaced quantiles so every seed has the same histogram;
- the vocabulary is ``VOCAB_WORDS`` seeded pseudo-words with Zipf weights
  (exponent ``ZIPF_S``) plus ``STOPWORDS``, which together take
  ``STOP_MASS`` of the tokens of a normal document. Without stop-words the
  Gopher gate keeps no document at all.
"""

from __future__ import annotations

import bisect
import hashlib
import itertools
import math
import random
import re
import statistics

import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_DOCS = 1000
SHORT_SHARE = 0.04
JUNK_SHARE = 0.04
NOSTOP_SHARE = 0.04
EXACT_SHARE = 0.10
NEAR_SHARE = 0.10
NEAR_EDITS = 2
CONTAM_SHARE = 0.03
CONTAM_SPAN = 12
EVAL_DOCS = 40
LEN_MEDIAN = 60
LEN_SIGMA = 0.6
VOCAB_WORDS = 800
ZIPF_S = 1.05
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for", "on", "with")
STOP_MASS = 0.3

#: the Gopher rule's stop-words (``functions.text.gopher_keep`` defaults)
GOPHER_STOPWORDS = frozenset(("the", "a", "of", "and", "to"))
NGRAM_N = 8
SAMPLE_RATE = 0.5
SAMPLE_SALT = "perfbench"


def dimensions() -> dict:
    return {
        "docs": CORPUS_DOCS,
        "short_share": SHORT_SHARE,
        "junk_share": JUNK_SHARE,
        "nostop_share": NOSTOP_SHARE,
        "exact_dup_share": EXACT_SHARE,
        "near_dup_share": NEAR_SHARE,
        "near_dup_edits": NEAR_EDITS,
        "contaminated_share": CONTAM_SHARE,
        "contam_span_tokens": CONTAM_SPAN,
        "eval_docs": EVAL_DOCS,
        "len_median_tokens": LEN_MEDIAN,
        "len_sigma": LEN_SIGMA,
        "vocab_words": VOCAB_WORDS,
        "zipf_s": ZIPF_S,
        "stopwords": len(STOPWORDS),
        "stop_mass": STOP_MASS,
        "ngram_n": NGRAM_N,
        "sample_rate": SAMPLE_RATE,
    }


class Corpus:
    """The generated corpus: ``texts[doc_id]``, the eval set and the
    planted near-duplicate pairs."""

    def __init__(self, seed: int) -> None:
        rng = random.Random(seed)
        syll = [c + v for c in "bcdfghklmnprstvz" for v in "aeiou"]
        words: set[str] = set()
        while len(words) < VOCAB_WORDS:
            words.add("".join(rng.choice(syll) for _ in range(rng.randint(2, 4))))
        self.vocab = sorted(words)
        rng.shuffle(self.vocab)
        weights = [1.0 / (r + 1) ** ZIPF_S for r in range(VOCAB_WORDS)]
        self._cum = list(itertools.accumulate(weights))
        self._rng = rng

        n = CORPUS_DOCS
        n_exact, n_near = int(n * EXACT_SHARE), int(n * NEAR_SHARE)
        n_short, n_junk, n_nostop = int(n * SHORT_SHARE), int(n * JUNK_SHARE), int(n * NOSTOP_SHARE)
        n_normal = n - n_exact - n_near - n_short - n_junk - n_nostop

        self.eval_texts = [" ".join(self._tokens(rng.randint(20, 40))) for _ in range(EVAL_DOCS)]
        lengths = self._lengths(n_normal + n_junk + n_nostop)
        normal = [self._tokens(lengths.pop()) for _ in range(n_normal)]
        for toks in rng.sample(normal, int(n_normal * CONTAM_SHARE)):
            span = rng.choice(self.eval_texts).split(" ")[:CONTAM_SPAN]
            at = rng.randint(0, len(toks))
            toks[at:at] = span
        docs: list[tuple[str, int | None, str]] = [("normal", None, " ".join(t)) for t in normal]
        for _ in range(n_short):
            docs.append(("short", None, " ".join(self._tokens(rng.randint(3, 9)))))
        for _ in range(n_junk):
            toks = [str(rng.randint(0, 99999)) if rng.random() < 0.6 else self._word() for _ in range(lengths.pop())]
            docs.append(("junk", None, " ".join(toks)))
        for _ in range(n_nostop):
            docs.append(("nostop", None, " ".join(self._word() for _ in range(lengths.pop()))))
        for _ in range(n_exact):
            src = rng.randrange(n_normal)
            toks = normal[src]
            text = toks[0].capitalize() + " " + " ".join(toks[1:]) if rng.random() < 0.5 else " ".join(toks)
            docs.append(("exact", src, text.replace(" ", "  ", rng.randint(1, 3)) + " "))
        long_docs = [i for i, t in enumerate(normal) if len(t) >= 30]
        for _ in range(n_near):
            src = rng.choice(long_docs)
            toks = list(normal[src])
            for pos in rng.sample(range(len(toks)), NEAR_EDITS):
                toks[pos] = self._word()
            docs.append(("near", src, " ".join(toks)))

        order = list(range(len(docs)))
        rng.shuffle(order)  # doc ids do not reveal which copy came first
        id_of = {old: new for new, old in enumerate(order)}
        self.texts = [docs[old][2] for old in order]
        self.kind = [docs[old][0] for old in order]
        self.near_pairs = [
            (id_of[src], id_of[i]) for i, (kind, src, _) in enumerate(docs) if kind == "near"
        ]

    def _word(self) -> str:
        return self.vocab[bisect.bisect_left(self._cum, self._rng.random() * self._cum[-1])]

    def _tokens(self, n: int) -> list[str]:
        return [self._rng.choice(STOPWORDS) if self._rng.random() < STOP_MASS else self._word() for _ in range(n)]

    def _lengths(self, n: int) -> list[int]:
        """n lengths at evenly spaced quantiles of the length distribution,
        in seeded order: every seed gets the same length histogram."""
        z = statistics.NormalDist()
        out = [
            max(10, min(400, round(math.exp(math.log(LEN_MEDIAN) + LEN_SIGMA * z.inv_cdf((i + 0.5) / n)))))
            for i in range(n)
        ]
        self._rng.shuffle(out)
        return out

    def write(self, corpus_path: str, eval_path: str, files: int) -> None:
        """Corpus as ``files`` parquet files (so the scan has that many
        splits), eval set as one."""
        ids = list(range(len(self.texts)))
        step = -(-len(ids) // files)
        for k in range(files):
            part = ids[k * step : (k + 1) * step]
            tbl = pa.table({"doc_id": pa.array(part, pa.int64()), "text": [self.texts[i] for i in part]})
            pq.write_table(tbl, f"{corpus_path}/part-{k:03d}.parquet")
        pq.write_table(
            pa.table({"doc_id": pa.array(range(EVAL_DOCS), pa.int64()), "text": self.eval_texts}),
            f"{eval_path}/part-000.parquet",
        )


# -- oracles (mirror the program's documented semantics) ----------------------

_WS = re.compile(r"\s+")
_ALPHA = re.compile(r"[a-z]")


def _split(text: str) -> list[str]:
    # Spark's trim strips spaces only; split(..., "\\s+") keeps no empties
    # inside a trimmed string
    return _WS.split(text.strip(" "))


def gopher_keep(text: str) -> bool:
    """``functions.text.gopher_keep`` with its default thresholds."""
    toks = _split(text)
    n = len(toks)
    if not 10 <= n <= 1000:
        return False
    if not 2.0 <= sum(len(t) for t in toks) / n <= 12.0:
        return False
    if sum(1 for t in toks if _ALPHA.search(t)) / n < 0.7:
        return False
    return len(set(toks) & GOPHER_STOPWORDS) >= 1


def normalized(text: str) -> str:
    """``functions.text.normalized_text``: lower, trim, collapse spaces."""
    return _WS.sub(" ", text.strip(" ").lower())


def grams(text: str, n: int = NGRAM_N) -> set[str]:
    toks = _split(text)
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def sampled(doc_id: int, rate: float = SAMPLE_RATE, salt: str = SAMPLE_SALT) -> bool:
    """``operators.corpus.hash_sample``'s bucket rule."""
    h = hashlib.md5(f"{doc_id}:{salt}".encode()).hexdigest()[:8]
    return int(h, 16) % 1_000_000 < int(rate * 1_000_000)
