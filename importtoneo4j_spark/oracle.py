"""Single-threaded pure-Python oracle implementing the *reference semantics*
sequentially — the differential-testing counterpart of the engine
(SURVEY.md §5 item 2).

Mirrors the reference's behavior model:
* strict sequential scan in input order (VariantDatabase.java:171-175) —
  here: rows sorted by (conv_id, turn_idx).
* warn-and-skip of invalid records (VariantDatabase.java:189-192) with the
  same reject rules as sources/transcripts.py.
* per-record parse fan-out (VariantDatabase.java:374-384) with the same
  assertion grammar as operators/extract.py.
* MERGE on the entity's natural key (Neo4j.java:160-173): canonicalization
  uses the generator's ground-truth alias map — each surface form belongs to
  exactly one entity — so the oracle's clusters are the *intended* clusters
  the engine must discover (P/R >= 0.95 slack covers linking misses).
* first-writer-wins edge/property semantics (Neo4j.java:192-194,230-242):
  the first (conv_id, turn_idx) occurrence of a (subj, pred, obj) wins.
"""

from __future__ import annotations

import re

import pandas as pd

# the grammar of operators/extract.ASSERTION_PATTERN_SQL, with the same
# explicit ASCII classes (Python's \s and \w would also match Unicode)
ASSERTION_RE = re.compile(
    r"\[\[([^\[\]]+)\]\][ \t\n\x0B\f\r]+"
    r"(works_at|located_in|reports_to|uses|manages|aka|invoked:[A-Za-z0-9_]+)"
    r"[ \t\n\x0B\f\r]+\[\[([^\[\]]+)\]\]"
)

# matches Spark's [^\p{L}\p{N}]+ (underscore is punctuation there)
_NORM_RE = re.compile(r"[\W_]+", re.UNICODE)


def norm_key(surface: str) -> str:
    return " ".join(_NORM_RE.sub(" ", surface.lower()).split())


def is_rejected(row) -> str | None:
    if pd.isna(row.conv_id):
        return "null_conv_id"
    if pd.isna(row.turn_idx):
        return "null_turn_idx"
    if row.turn_idx < 0:
        return "negative_turn_idx"
    text = row.text
    if text is None or pd.isna(text) or str(text).strip() in (".", ""):
        return "null_or_sentinel_text"
    return None


class Oracle:
    def __init__(self, transcripts: pd.DataFrame, alias_truth: pd.DataFrame):
        self.transcripts = transcripts.sort_values(
            ["conv_id", "turn_idx"], kind="stable"
        ).reset_index(drop=True)
        # surface -> ground-truth entity idx
        self.truth = dict(zip(alias_truth["surface"], alias_truth["entity_idx"]))
        self._run()

    def _run(self) -> None:
        raw: list[tuple] = []  # sequential assertion stream
        self.rejects: list[tuple] = []
        observed_surfaces: set[str] = set()
        for row in self.transcripts.itertuples():
            reason = is_rejected(row)
            if reason is not None:
                self.rejects.append((row.conv_id, row.turn_idx, reason))
                continue
            for m in ASSERTION_RE.finditer(str(row.text)):
                subj, verb, obj = m.group(1).strip(), m.group(2), m.group(3).strip()
                kind = "same_as" if verb == "aka" else "triple"
                pred = "same_as" if verb == "aka" else verb.replace(":", "_")
                quality = 0.8 if verb.startswith("invoked:") else 1.0
                raw.append(
                    (row.conv_id, int(row.turn_idx), subj, pred, obj, kind, quality)
                )
                observed_surfaces.add(subj)
                observed_surfaces.add(obj)

        # canonical representative per ground-truth entity: the lexicographic
        # min norm_key among *observed* surfaces of that entity (matches the
        # engine's min-norm_key component id when linking is perfect)
        ent_surfaces: dict[object, set[str]] = {}
        for s in observed_surfaces:
            eid: object = self.truth.get(s)
            if eid is None:
                eid = ("unk", norm_key(s))  # unknown surface: own cluster
            ent_surfaces.setdefault(eid, set()).add(norm_key(s))
        self.repr_of_entity = {
            eid: min(keys) for eid, keys in ent_surfaces.items()
        }

        def canon(surface: str) -> str:
            eid = self.truth.get(surface)
            if eid is None:
                return norm_key(surface)
            return self.repr_of_entity[eid]

        # first-wins MERGE of triples in stream order
        self.triples: dict[tuple[str, str, str], tuple] = {}
        for conv_id, turn_idx, subj, pred, obj, kind, quality in raw:
            if kind != "triple":
                continue
            key = (canon(subj), pred, canon(obj))
            if key not in self.triples:
                self.triples[key] = (conv_id, turn_idx, quality)
        self.n_assertions = len(raw)

    # ---------------------------------------------------------------- views
    def triple_set(self) -> set[tuple[str, str, str]]:
        return set(self.triples.keys())


def precision_recall(
    engine: set[tuple[str, str, str]], oracle: set[tuple[str, str, str]]
) -> tuple[float, float]:
    if not engine or not oracle:
        return (0.0, 0.0)
    tp = len(engine & oracle)
    return tp / len(engine), tp / len(oracle)
