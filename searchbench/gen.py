"""Seeded, vectorized code-corpus and query generator for the benchmark.

Terms follow a *truncated* Zipf law: P(rank r) = r^-s / sum_{j<=V} j^-s for
r = 1..V, drawn by inverse-CDF sampling. Clipping an untruncated Zipf draw
at V (``min(zipf, V)``) would pile the whole tail mass onto rank V and make
the coldest term one of the hottest; renormalizing over V does not.

Every draw comes from ``numpy.random.default_rng(seed)``, so the same seed
gives the same corpus, the same queries and the same expected statistics.
The engine only ever sees the generated rows and query strings.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

LANGS = np.array(["py", "java", "c", "go", "js", "rs"])
_STEMS = np.array([
    "get", "set", "run", "read", "write", "open", "close", "init", "load",
    "save", "parse", "build", "merge", "split", "hash", "sort", "scan", "join",
    "map", "fold", "idx", "ptr", "buf", "len", "cnt", "tmp", "val", "key",
    "node", "list", "emit", "flush", "seek", "peek", "push", "pop", "lock",
    "wait", "send", "recv",
])
_SUFFIXES = np.array([
    "", "_value", "_count", "_index", "_buffer", "_table", "_row", "_col",
    "_id", "_ptr", "_impl", "_util", "_cfg", "_ctx", "_err", "_ok", "_size",
    "_next", "_prev", "_head", "_tail", "_map", "_set", "_list",
])
#: Token separators: every one holds a non-token character, so adjacent
#: vocabulary terms never fuse into one token.
_SEPS = np.array([" ", " ", " ", "(", ") ", ".", " = ", ", ", ";\n", "\n    "])


@dataclass(frozen=True)
class CorpusSpec:
    """Shape of one generated corpus (recorded per workload in BENCHMARK.json)."""

    n_docs: int
    vocab_size: int
    zipf_s: float
    min_len: int
    max_len: int


@dataclass
class Corpus:
    docs: pd.DataFrame  # doc_id, repo, path, commit, lang, content
    vocab: np.ndarray  # term strings, index = Zipf rank - 1 (0 = hottest)
    probs: np.ndarray  # truncated-Zipf probability of each rank
    n_docs: int
    avgdl: float
    # Distinct (doc, term) postings, sorted by (term rank, doc_id): the
    # exact content a correct index must hold.
    post_doc: np.ndarray
    post_rank: np.ndarray
    post_tf: np.ndarray
    doc_len: np.ndarray  # tokens per doc, index = doc_id

    @property
    def n_postings(self) -> int:
        return int(self.post_doc.size)


def vocabulary(size: int, rng: np.random.Generator) -> np.ndarray:
    """``size`` distinct code-like identifiers, shuffled so rank order is not
    alphabetical order."""
    per_round = len(_STEMS) * len(_SUFFIXES)
    i = np.arange(size)
    stem = _STEMS[i % len(_STEMS)]
    suf = _SUFFIXES[(i // len(_STEMS)) % len(_SUFFIXES)]
    n = i // per_round
    num = np.where(n > 0, n.astype(str), "")
    terms = np.char.add(np.char.add(stem, suf), num).astype(object)
    return terms[rng.permutation(size)]


def zipf_probs(vocab_size: int, s: float) -> np.ndarray:
    w = np.arange(1, vocab_size + 1, dtype=np.float64) ** -s
    return w / w.sum()


def draw_ranks(rng: np.random.Generator, probs: np.ndarray, size: int) -> np.ndarray:
    """Inverse-CDF truncated-Zipf draw of 0-based ranks."""
    cdf = np.cumsum(probs)
    cdf[-1] = 1.0
    return np.searchsorted(cdf, rng.random(size), side="right")


def gen_corpus(spec: CorpusSpec, seed: int) -> Corpus:
    """The corpus for ``seed``, with dense doc_ids 0..n_docs-1."""
    rng = np.random.default_rng(seed)
    vocab = vocabulary(spec.vocab_size, rng)
    probs = zipf_probs(spec.vocab_size, spec.zipf_s)
    lens = rng.integers(spec.min_len, spec.max_len + 1, size=spec.n_docs)
    total = int(lens.sum())
    ranks = draw_ranks(rng, probs, total)
    seps = _SEPS[rng.integers(0, len(_SEPS), size=total)]
    pieces = np.char.add(vocab[ranks].astype(str), seps).astype(object)
    bounds = np.concatenate(([0], np.cumsum(lens)))
    content = ["".join(pieces[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]

    doc_ids = np.arange(spec.n_docs, dtype=np.int64)
    repo_n = rng.integers(0, 997, size=spec.n_docs)
    lang = LANGS[rng.integers(0, len(LANGS), size=spec.n_docs)]
    repo = np.char.add("org/repo", repo_n.astype(str))
    path = np.char.add(np.char.add(np.char.add("src/m", (doc_ids % 53).astype(str)),
                                   np.char.add("/f", doc_ids.astype(str))),
                       np.char.add(".", lang))
    commit = np.array([f"{x:040x}" for x in rng.integers(0, 2**62, size=spec.n_docs)])
    docs = pd.DataFrame({
        "doc_id": doc_ids, "repo": repo, "path": path, "commit": commit,
        "lang": lang, "content": content,
    })
    doc_of_token = np.repeat(doc_ids, lens)
    keys, tf = np.unique(ranks * spec.n_docs + doc_of_token, return_counts=True)
    post_rank, post_doc = np.divmod(keys, spec.n_docs)
    return Corpus(docs, vocab, probs, spec.n_docs, float(lens.mean()),
                  post_doc, post_rank, tf, lens)


def gen_queries(
    corpus: Corpus, seed: int, n: int, min_terms: int, max_terms: int, unknown_share: float
) -> list[str]:
    """``n`` query strings of ``min_terms``..``max_terms`` terms drawn from the
    corpus's own term distribution; each term is replaced by a term absent
    from the vocabulary with probability ``unknown_share``."""
    rng = np.random.default_rng(seed)
    n_terms = rng.integers(min_terms, max_terms + 1, size=n)
    ranks = draw_ranks(rng, corpus.probs, int(n_terms.sum()))
    terms = corpus.vocab[ranks].astype(object)
    unknown = rng.random(terms.size) < unknown_share
    terms[unknown] = [f"zzunknown{int(x)}" for x in rng.integers(0, 10**6, size=int(unknown.sum()))]
    bounds = np.concatenate(([0], np.cumsum(n_terms)))
    return [" ".join(terms[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]
