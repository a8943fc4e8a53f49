"""Deterministic synthetic transcript generator (seed=42 convention).

Stands in for the 10^12-turn Iceberg transcript corpus at test/bench scale.
Analog of the reference's VCF record stream (VariantDatabase.java:174): a
turn = a record; (conv_id, turn_idx) = the sequential file order the
reference silently depends on.

Generation is chunk-seeded (``np.random.default_rng([seed, chunk])``) so the
emitted rows are byte-identical regardless of how many chunks are written —
required for resumability tests and for comparing local[8] vs local[32] runs
on the same input.

Embedded assertions use an explicit mention markup so extraction is exact
and oracle-checkable::

    "... [[Alpha Systems]] works_at [[Beta Labs]] ..."          -> triple
    "... [[Alpha Systems]] aka [[ALPHA SYSTEMS Inc]] ..."       -> same_as
    "... [[X]] invoked:sql [[Y]] ..."                           -> dynamic pred
      (dynamic predicate vocabulary from data — reference pattern
       VariantDatabase.java:463,476 "HAS_" + consequence.toUpperCase())

Alias pools per entity (1-4 surface forms, FIXTURES.md §1):
  a0 canonical "Alpha Systems"; a1 case variant; a2 punctuation variant
  (all three collapse under normalization); a3 suffix-extended
  "Alpha Systems Inc" (requires aka evidence or MinHash-LSH to link).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

SEED = 42

PREDICATES = ["works_at", "located_in", "reports_to", "uses", "manages"]
TOOLS = ["search", "browser", "python", "sql"]
ROLES = ["user", "assistant", "system"]
# legal-form suffixes, deliberately disjoint from the _NOUN vocabulary —
# "X systems Labs" vs the distinct entity "X labs" would be genuinely
# ambiguous even to a human linker
SUFFIXES = ["Inc", "Ltd", "GmbH", "Corp"]

# NOTE: pool words are chosen pairwise-dissimilar under char-4-gram Jaccard
# so two DIFFERENT entities never exceed the linking threshold (e.g.
# solar/polar, micro/macro, vale/gale, amber/ember would falsely merge).
_ADJ = [
    "alpha", "beta", "gamma", "delta", "omega", "nova", "zen", "apex", "core",
    "prime", "lunar", "solar", "quantum", "vertex", "atlas", "orion", "pixel",
    "cobalt", "crimson", "amber", "ivory", "onyx", "jade", "coral", "aurora",
    "borealis", "cedar", "willow", "maple", "aspen", "summit", "ridge", "vale",
    "harbor", "haven", "forge", "anvil", "obsidian", "frost", "granite",
    "torrent", "rapid", "silent", "bright", "dark", "swift", "steady", "bold",
    "noble", "mythic", "cosmic", "astral", "quartz", "zonal", "topaz",
    "zephyr", "hyper", "ultra", "micro", "meta", "proto", "neo", "retro",
    "omni",
]
_NOUN = [
    "systems", "labs", "networks", "dynamics", "industries", "analytics",
    "logistics", "robotics", "biotech", "fintech", "energy", "mining",
    "holdings", "partners", "ventures", "capital", "works", "foundry",
    "studios", "media", "telecom", "aerospace", "marine", "rail", "motors",
    "pharma", "optics", "sensors", "devices", "circuits", "software", "cloud",
]
_FILLER = [
    "note", "that", "reportedly", "today", "the", "record", "shows", "as",
    "confirmed", "earlier", "in", "summary", "we", "observed", "meanwhile",
    "according", "to", "logs", "it", "seems", "clearly", "overall",
]

EDGE_TEXTS = [".", "", "   ", "naïve café — unicode ✓ 日本語", "\t\n"]


def _gen_chunk(gen, lengths, lo: int, hi: int, path: str, part: int) -> int:
    """Worker: generate conversations [lo, hi) into one parquet part file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = gen.chunk_pandas(lo, hi, lengths)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(table, os.path.join(path, f"part-{part:05d}.parquet"))
    return len(pdf)


def _entity_names(n: int) -> list[str]:
    names = []
    for i in range(n):
        a = _ADJ[i % len(_ADJ)]
        b = _NOUN[(i // len(_ADJ)) % len(_NOUN)]
        k = i // (len(_ADJ) * len(_NOUN))
        base = f"{a} {b}" if k == 0 else f"{a} {b} {k}"
        names.append(base.title())
    return names


@dataclass
class TranscriptGenerator:
    seed: int = SEED
    n_entities: int = 200
    hot_share: float = 0.20  # FIXTURES.md skew knob: hot entity in p% of turns
    triples_per_turn_max: int = 3
    mix: tuple[float, float, float, float, float] = (0.55, 0.08, 0.07, 0.25, 0.05)
    # (triple, aka, tool, noise, edge-case)
    _aliases: list[list[str]] = field(default_factory=list, init=False)

    def __post_init__(self) -> None:
        rng = np.random.default_rng([self.seed, 999])
        names = _entity_names(self.n_entities)
        self._aliases = []
        for i, name in enumerate(names):
            forms = [name]  # a0 canonical (Title Case)
            n_alias = 1 + int(rng.integers(0, 4))  # 1..4 surface forms
            if n_alias >= 2:
                forms.append(name.upper() if i % 2 == 0 else name.lower())
            if n_alias >= 3:
                forms.append(name.replace(" ", "-") + ".")
            if n_alias >= 4:
                suffix = SUFFIXES[i % len(SUFFIXES)]
                if name.lower().endswith(suffix.lower()):
                    suffix = SUFFIXES[(i + 1) % len(SUFFIXES)]
                forms.append(f"{name} {suffix}")
            self._aliases.append(forms)

    # ---------------------------------------------------------------- truth
    def alias_truth(self) -> pd.DataFrame:
        """surface form -> ground-truth entity index (the oracle's MERGE key,
        generalizing the reference's natural-key constraint
        VariantDatabase.java:100-109)."""
        rows = [
            (surface, eid)
            for eid, forms in enumerate(self._aliases)
            for surface in forms
        ]
        return pd.DataFrame(rows, columns=["surface", "entity_idx"])

    # ---------------------------------------------------------------- turns
    def conv_lengths(self, n_convs: int) -> np.ndarray:
        rng = np.random.default_rng([self.seed, 1000])
        return rng.integers(5, 51, size=n_convs)

    def _pick_alias(self, rng: np.random.Generator, eid: int) -> str:
        forms = self._aliases[eid]
        return forms[int(rng.integers(0, len(forms)))]

    def _gen_conv_texts(
        self, rng: np.random.Generator, n_turns: int
    ) -> tuple[list[str], list[str], list[str | None]]:
        texts: list[str] = []
        roles: list[str] = []
        tools: list[str | None] = []
        kinds = rng.choice(5, size=n_turns, p=list(self.mix))
        for k in kinds:
            role = ROLES[int(rng.integers(0, len(ROLES)))]
            tool = None
            if k == 0:  # triple turn, 1..3 assertions (UDTF fan-out shape)
                n_rel = 1 + int(rng.integers(0, self.triples_per_turn_max))
                parts = []
                for _ in range(n_rel):
                    if rng.random() < self.hot_share:
                        s = 0
                    else:
                        s = int(rng.integers(0, self.n_entities))
                    o = int(rng.integers(0, self.n_entities - 1))
                    if o >= s:
                        o += 1
                    pred = PREDICATES[int(rng.integers(0, len(PREDICATES)))]
                    lead = _FILLER[int(rng.integers(0, len(_FILLER)))]
                    parts.append(
                        f"{lead} [[{self._pick_alias(rng, s)}]] {pred} "
                        f"[[{self._pick_alias(rng, o)}]]"
                    )
                texts.append(" ; ".join(parts) + " .")
            elif k == 1:  # aka turn: two surface forms of one entity
                e = int(rng.integers(0, self.n_entities))
                forms = self._aliases[e]
                i = int(rng.integers(0, len(forms)))
                j = int(rng.integers(0, len(forms)))
                texts.append(f"[[{forms[i]}]] aka [[{forms[j]}]] per registry .")
            elif k == 2:  # tool turn: dynamic predicate from data
                role = "tool"
                tool = TOOLS[int(rng.integers(0, len(TOOLS)))]
                s = int(rng.integers(0, self.n_entities))
                o = int(rng.integers(0, self.n_entities))
                nrows = int(rng.integers(0, 100))
                texts.append(
                    f"[[{self._pick_alias(rng, s)}]] invoked:{tool} "
                    f"[[{self._pick_alias(rng, o)}]] returned {nrows} rows ."
                )
            elif k == 3:  # noise
                nw = 4 + int(rng.integers(0, 12))
                idx = rng.integers(0, len(_FILLER), size=nw)
                texts.append(" ".join(_FILLER[i] for i in idx))
            else:  # edge case / null sentinel (reference F7: "." skipped)
                texts.append(EDGE_TEXTS[int(rng.integers(0, len(EDGE_TEXTS)))])
            roles.append(role)
            tools.append(tool)
        return texts, roles, tools

    def chunk_pandas(self, conv_lo: int, conv_hi: int, lengths: np.ndarray) -> pd.DataFrame:
        """Turns for conversations [conv_lo, conv_hi); seeded per-conversation
        so output is independent of chunking."""
        frames_conv: list[str] = []
        frames_idx: list[np.ndarray] = []
        texts_all: list[str] = []
        roles_all: list[str] = []
        tools_all: list[str | None] = []
        conv_ids: list[str] = []
        for c in range(conv_lo, conv_hi):
            n = int(lengths[c])
            rng = np.random.default_rng([self.seed, 2, c])
            texts, roles, tools = self._gen_conv_texts(rng, n)
            conv_ids.extend([f"conv-{c:07d}"] * n)
            frames_idx.append(np.arange(n, dtype=np.int32))
            texts_all.extend(texts)
            roles_all.extend(roles)
            tools_all.extend(tools)
        turn_idx = np.concatenate(frames_idx) if frames_idx else np.array([], dtype=np.int32)
        base = np.datetime64("2026-01-01T00:00:00")
        # monotone non-decreasing ts within conv: conv offset + turn seconds
        conv_num = np.repeat(np.arange(conv_lo, conv_hi), lengths[conv_lo:conv_hi])
        ts = base + conv_num.astype("timedelta64[h]") + turn_idx.astype("timedelta64[s]")
        return pd.DataFrame(
            {
                "conv_id": pd.Series(conv_ids, dtype="string"),
                "turn_idx": turn_idx,
                "role": pd.Series(roles_all, dtype="string"),
                "text": pd.Series(texts_all, dtype="string"),
                "tool": pd.Series(tools_all, dtype="string"),
                "ts": pd.Series(ts),
            }
        )

    def turns_pandas(self, n_convs: int) -> pd.DataFrame:
        lengths = self.conv_lengths(n_convs)
        return self.chunk_pandas(0, n_convs, lengths)

    def write_parquet(
        self,
        path: str,
        n_convs: int,
        chunk_convs: int = 5000,
        workers: int | None = None,
    ) -> int:
        """Write transcripts as a multi-file parquet dir; returns row count.

        Chunks are seeded independently (per-conversation rng), so they can
        be generated by a process pool without changing a single byte of
        output relative to the sequential path."""
        os.makedirs(path, exist_ok=True)
        lengths = self.conv_lengths(n_convs)
        ranges = [
            (lo, min(lo + chunk_convs, n_convs), p)
            for p, lo in enumerate(range(0, n_convs, chunk_convs))
        ]
        if workers is None:
            workers = min(16, os.cpu_count() or 1, len(ranges))
        if workers <= 1:
            return sum(
                _gen_chunk(self, lengths, lo, hi, path, part)
                for lo, hi, part in ranges
            )
        import multiprocessing as mp

        # fork, not spawn: spawn re-imports __main__, which breaks for
        # stdin-driven scripts; workers only use numpy/pyarrow (fork-safe)
        with mp.get_context("fork").Pool(workers) as pool:
            counts = pool.starmap(
                _gen_chunk,
                [(self, lengths, lo, hi, path, part) for lo, hi, part in ranges],
            )
        return sum(counts)
