"""Seeded generator for the ``er_vocab`` workload: few turns, large vocabulary.

``bern_spark.datagen.make_entities`` rejects each new base name that is too
similar to every earlier one, which is quadratic in the vocabulary and does
not finish at the sizes this workload needs. Here base names are random
syllable strings long enough that two of them are rarely alike; only exact
repeats are redrawn, so generation is linear.

Like ``make_entities``, each entity emits a base surface plus case, typo and
(per type) hyphen or `` gene`` variants, and about 1 in 7 entities has no
dictionary entry, so its mentions reach clustering CUI-less. Every surface
appears in the transcripts at least once, so the distinct-surface count the
blocking, scoring and clustering layers see is the lexicon size.
"""

from __future__ import annotations

import random
import string

ETYPES = ("gene", "disease", "drug", "species", "mutation")
SYLLABLES = ("ra", "zo", "mi", "ta", "lek", "vor", "din", "ax", "bru", "cel", "fi", "gor", "han")
FILLER = (
    "the assistant reviewed the record and summarized findings for follow up "
    "while the user asked about dosage interactions and observed symptoms"
).split()
STOPWORDS = ("patients", "children", "women", "human", "people", "infant")
SURFACES_PER_TURN = 12


def _typo(rng: random.Random, s: str) -> str:
    if len(s) < 5:
        return s + "x"
    i = rng.randrange(1, len(s) - 1)
    op = rng.randrange(3)
    if op == 0:
        return s[:i] + rng.choice(string.ascii_lowercase) + s[i + 1 :]
    if op == 1:
        return s[:i] + s[i + 1 :]
    return s[:i] + s[i] + s[i:]


def _base(rng: random.Random, etype: str, taken: set) -> str:
    while True:
        stem = "".join(rng.choice(SYLLABLES) for _ in range(5 + rng.randrange(2)))
        if stem not in taken:
            taken.add(stem)
            break
    if etype == "gene":
        return stem.upper()
    if etype == "drug":
        return stem + rng.choice(("ol", "ine", "mab"))
    if etype == "disease":
        return stem + " " + rng.choice(("syndrome", "disease", "disorder"))
    if etype == "species":
        return stem.capitalize() + " " + rng.choice(("major", "minor", "vulgaris"))
    return stem


def entities(seed: int, per_type: int) -> list[tuple[str, str | None, list[str], list[str]]]:
    """``(etype, oid or None, surfaces, dictionary names)`` per entity."""
    rng = random.Random(seed)
    out, taken = [], set()
    for etype in ETYPES:
        for i in range(per_type):
            if etype == "mutation":
                ref = 101 + 97 * i
                base = f"c.{ref}{'ACGT'[i % 4]}>{'ACGT'[(i + 1) % 4]}"
                surfaces, names = [base, base.replace("c.", "c. ")], [base]
            else:
                base = _base(rng, etype, taken)
                surfaces, names = [base, base.lower()], [base]
                if etype in ("drug", "disease"):
                    v = base.replace(" ", "-") if " " in base else base[:3] + "-" + base[3:]
                    surfaces.append(v)
                    names.append(v)
                elif etype == "gene":
                    surfaces.append(base + " gene")
                elif etype == "species" and i % 3 == 0:
                    names = [base.lower()]
                surfaces.append(_typo(rng, base))
            if etype != "mutation" and i % 7 == 3:
                oid, names = None, []
            elif etype == "species":
                oid = str((9000 + i) * 100 + rng.randrange(100))
            else:
                oid = f"{etype.upper()[:4]}:{1000 + i}"
            out.append((etype, oid, list(dict.fromkeys(surfaces)), names))
    return out


def generate(seed: int, per_type: int):
    """Return ``(turn rows, lexicon rows, dictionary rows by table name)``.

    Turn rows are ``(conv_id, turn_idx, role, text, tool, ts_seconds)``; every
    lexicon surface is placed in some turn, in a seeded order.
    """
    ents = entities(seed, per_type)
    rng = random.Random(seed * 7919 + per_type)
    lexicon, seen = [], set()
    for etype, _, surfaces, _ in ents:
        for s in surfaces:
            if (etype, s) not in seen:
                seen.add((etype, s))
                lexicon.append((etype, s, 0.8))
    for s in STOPWORDS:
        lexicon.append(("species", s, 0.8))

    placed = [s for _, s, _ in lexicon]
    rng.shuffle(placed)
    turns = []
    for t, lo in enumerate(range(0, len(placed), SURFACES_PER_TURN)):
        words = []
        for s in placed[lo : lo + SURFACES_PER_TURN]:
            words.extend(rng.choice(FILLER) for _ in range(1 + rng.randrange(3)))
            words.append(s)
        words.append(rng.choice(FILLER))
        conv, turn_idx = divmod(t, 4)
        turns.append(
            (f"v{conv:07d}", turn_idx, ("user", "assistant", "tool")[turn_idx % 3],
             " ".join(words), None, 1_700_000_000 + t)
        )

    dicts: dict[str, list[tuple[str, str]]] = {f"dict_{e}": [] for e in ETYPES}
    for etype, oid, _, names in ents:
        if oid is not None:
            dicts[f"dict_{etype}"].extend((oid, n) for n in names)
    return turns, lexicon, dicts
