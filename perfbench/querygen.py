"""Seeded query streams and page edits for the benchmark.

Everything here is a pure function of (seed, corpus statistics): the same
seed over the same corpus yields the same queries and the same edits. The
engine only ever receives the generated query strings and edited pages.

Term classes by document frequency: *hot* terms are the terms the build
salts (df above ``hot_df_ratio`` of the documents, the index's own rule),
*rare* terms occur in at most ``RARE_DF_RATIO`` of the documents, *mid*
are the rest, and *oov* terms are absent from the corpus.

The stream is stratified: query shapes (the class of every term slot) and
k are dealt from fixed decks that the seed only shuffles, so every seed
sees the same mix and run-to-run spread reflects the engine rather than a
lucky draw of cheap queries. The seed picks the order and the terms.

The mix itself (the shapes of ``BLOCK`` and ``K_CHOICES``) is an assumption
of this benchmark, not taken from a measured query log: it gives every
class and every query length the same weight in each block.
"""

from __future__ import annotations

import random
from collections import Counter

from semcode_spark.sources.webpages import VOCAB_SIZE

RARE_DF_RATIO = 0.005
# One block of query shapes: the term class of every slot. 20 slots at
# hot 5 : mid 6 : rare 6 : oov 3, two queries of each length 1-4, at most
# one hot term per query, and every query holding at least one corpus
# term (an all-oov query runs no Spark job, so it measures no engine work).
BLOCK = (
    ("mid",), ("rare",),
    ("hot", "mid"), ("rare", "oov"),
    ("hot", "mid", "rare"), ("hot", "rare", "oov"),
    ("hot", "mid", "mid", "rare"), ("hot", "mid", "rare", "oov"),
)
CLASSES = ("hot", "mid", "rare", "oov")
TERMS_PER_QUERY = (1, 2, 3, 4)
K_CHOICES = (5, 10, 15)


def salted(df: int, n_docs: int, hot_df_ratio: float) -> bool:
    """Whether the build salts a term of this df (index_build's rule for
    ``IndexConfig.hot_term_df_ratio``)."""
    return df > max(2.0, hot_df_ratio * n_docs)


def term_classes(df: dict[str, int], n_docs: int,
                 hot_df_ratio: float) -> dict[str, list[str]]:
    """Corpus terms by class, each list sorted so sampling is seed-stable."""
    rare_max = max(1.0, RARE_DF_RATIO * n_docs)
    classes: dict[str, list[str]] = {"hot": [], "mid": [], "rare": []}
    for t in sorted(df):
        cls = ("hot" if salted(df[t], n_docs, hot_df_ratio)
               else "rare" if df[t] <= rare_max else "mid")
        classes[cls].append(t)
    # synthetic terms use indexes [0, VOCAB_SIZE); these never occur
    classes["oov"] = [f"w{VOCAB_SIZE + i}" for i in range(1000)]
    return classes


class QueryGen:
    """A seeded stream of (query_id, text, k) with the realized mix recorded.

    Queries are dealt in blocks: each block holds every shape of ``BLOCK``
    once, in a seed-shuffled order, with terms drawn by the seed from each
    slot's class and k dealt from a shuffled deck of ``K_CHOICES``."""

    def __init__(self, seed: int, df: dict[str, int], n_docs: int,
                 hot_df_ratio: float):
        self.rng = random.Random(seed)
        self.classes = term_classes(df, n_docs, hot_df_ratio)
        short = [c for c in CLASSES
                 if len(self.classes[c]) < max(shape.count(c) for shape in BLOCK)]
        if short:
            raise ValueError(f"corpus has too few {short} terms to draw from")
        self._decks: dict[str, list] = {}
        self.next_id = 0
        self.slots: Counter = Counter()      # term class -> term slots drawn
        self.lengths: Counter = Counter()    # terms per query -> queries
        self.ks: Counter = Counter()         # k -> queries
        self.seen: set[str] = set()
        self.repeated = 0

    def _deal(self, deck: str, cards: tuple):
        """Next card from ``deck``, refilled with ``cards`` shuffled."""
        left = self._decks.setdefault(deck, [])
        if not left:
            left.extend(cards)
            self.rng.shuffle(left)
        return left.pop()

    def at_block_start(self) -> bool:
        return not self._decks.get("shape")

    def _emit(self, terms: list[str], k: int) -> tuple[int, str, int]:
        for t in terms:
            if t in self.seen:
                self.repeated += 1
            self.seen.add(t)
        self.lengths[len(terms)] += 1
        self.ks[k] += 1
        q = (self.next_id, " ".join(terms), k)
        self.next_id += 1
        return q

    def query(self) -> tuple[int, str, int]:
        """The next query of the current block."""
        shape = self._deal("shape", BLOCK)
        terms: list[str] = []
        for cls in dict.fromkeys(shape):
            n = shape.count(cls)
            terms += self.rng.sample(self.classes[cls], n)
            self.slots[cls] += n
        return self._emit(terms, self._deal("k", K_CHOICES))

    def probe(self, term: str, k: int = 10) -> tuple[int, str, int]:
        """A one-term query outside the blocks (class "edited")."""
        self.slots["edited"] += 1
        return self._emit([term], k)

    def mix(self) -> dict:
        """Realized shares of what was drawn so far."""
        n_slots = sum(self.slots.values()) or 1
        n_q = sum(self.lengths.values()) or 1
        n_terms = sum(n * c for n, c in self.lengths.items()) or 1
        return {
            "queries": n_q,
            "term_class_share": {c: round(self.slots[c] / n_slots, 4)
                                 for c in CLASSES + ("edited",)},
            "terms_per_query_share": {n: round(self.lengths[n] / n_q, 4)
                                      for n in TERMS_PER_QUERY},
            "k_share": {k: round(self.ks[k] / n_q, 4) for k in K_CHOICES},
            "repeated_term_share": round(self.repeated / n_terms, 4),
        }


def pick_recrawl(doc_ids: list[int], seed: int, share: float) -> list[int]:
    """The doc_ids a re-crawl wave replaces: ``share`` of the corpus."""
    rng = random.Random(f"{seed}/wave")
    n = max(1, round(share * len(doc_ids)))
    return sorted(rng.sample(sorted(doc_ids), n))


def edit_text(text: str, seed: int, doc_id: int) -> str:
    """A re-crawled page's new text: about a fifth of its tokens replaced by
    other vocabulary terms and a few appended, so df, doc lengths and the
    per-term block bounds all move."""
    rng = random.Random(f"{seed}/edit/{doc_id}")
    toks = text.split()
    for i in range(len(toks)):
        if rng.random() < 0.2:
            toks[i] = f"w{int(rng.paretovariate(1.2)) % VOCAB_SIZE}"
    toks += [f"w{rng.randrange(VOCAB_SIZE)}" for _ in range(rng.randint(1, 8))]
    return " ".join(toks)


def edit_html(html: bytes, old_text: str, new_text: str) -> bytes:
    """Swap the article body of a synthetic page (``synth_web_pages`` puts
    the page text, and nothing else, inside ``<article><p>…</p>``)."""
    old = f"<article><p>{old_text}</p></article>".encode()
    if html.count(old) != 1:
        raise ValueError("page does not have exactly one article body")
    return html.replace(old, f"<article><p>{new_text}</p></article>".encode())
