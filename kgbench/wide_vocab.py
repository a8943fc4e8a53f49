"""Wide-vocabulary transcript generator for the ``wide_vocab`` workload.

The stock generator names entities ``<adjective> <noun>`` from a 64 x 32
pool and, past 2,048 entities, appends a number ("Alpha Systems 3"). The
linker's token Jaccard (threshold 0.6) scores "alpha systems 3" against
"alpha systems" at 2/3, so numbered entities merge into their base name and
a large-vocabulary corpus collapses to a few hundred wrong entities.

This subclass changes only how names are built: two tokens drawn from a
seeded pool of synthetic words, every name a distinct unordered word pair,
so two different entities share at most one token (Jaccard <= 1/3 for the
names, 1/2 for their suffixed aliases) and never link. The alias forms are
the stock ones (canonical, case variant, punctuation variant, legal-form
suffix; 1-4 per entity), and everything else -- turn mix, hot entity,
``alias_truth()`` -- is inherited.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from importtoneo4j_spark.datagen import SUFFIXES, TranscriptGenerator

_ONSETS = ["b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z",
           "br", "dr", "kr", "tr", "st", "sk", "pl", "gl", "fr", "sh", "th"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ou", "ei"]
_CODAS = ["", "", "n", "r", "l", "s", "x", "m"]


def word_pool(rng: np.random.Generator, n_words: int) -> list[str]:
    """``n_words`` distinct pronounceable words of two or three syllables.
    None collides with a legal-form suffix, so a suffixed alias never gains
    a token that some entity name also has."""
    reserved = {s.lower() for s in SUFFIXES}
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n_words:
        n_syl = 2 + int(rng.integers(0, 2))
        w = "".join(
            _ONSETS[int(rng.integers(0, len(_ONSETS)))]
            + _VOWELS[int(rng.integers(0, len(_VOWELS)))]
            for _ in range(n_syl)
        ) + _CODAS[int(rng.integers(0, len(_CODAS)))]
        if w not in seen and w not in reserved:
            seen.add(w)
            words.append(w)
    return words


def wide_names(seed: int, n: int) -> list[str]:
    """``n`` Title-Case two-token names, each a distinct unordered pair of
    distinct pool words. The pool holds about 4 x sqrt(n) words, so each
    word recurs in about sqrt(n) / 2 names: enough shared tokens to load
    the LSH buckets, never enough to make two names token-identical.

    Names are drawn in rounds; each round pairs up a fresh shuffle of the
    whole pool, so every word is used equally often (within one). Blocking
    and verification load then hardly depend on the seed."""
    rng = np.random.default_rng([seed, 7001])
    words = word_pool(rng, max(8, 4 * int(np.ceil(np.sqrt(n)))))
    pairs: set[tuple[int, int]] = set()
    names: list[str] = []
    while len(names) < n:
        order = [int(x) for x in rng.permutation(len(words))]
        for a, b in zip(order[0::2], order[1::2]):
            key = (min(a, b), max(a, b))
            if key in pairs or len(names) == n:
                continue
            pairs.add(key)
            names.append(f"{words[a]} {words[b]}".title())
    return names


@dataclass
class WideVocabGenerator(TranscriptGenerator):
    """TranscriptGenerator with synthetic two-token entity names."""

    def __post_init__(self) -> None:
        # same alias rules and rng stream as the stock generator; only the
        # names differ
        rng = np.random.default_rng([self.seed, 999])
        self._aliases = []
        for i, name in enumerate(wide_names(self.seed, self.n_entities)):
            forms = [name]
            n_alias = 1 + int(rng.integers(0, 4))
            if n_alias >= 2:
                forms.append(name.upper() if i % 2 == 0 else name.lower())
            if n_alias >= 3:
                forms.append(name.replace(" ", "-") + ".")
            if n_alias >= 4:
                forms.append(f"{name} {SUFFIXES[i % len(SUFFIXES)]}")
            self._aliases.append(forms)
