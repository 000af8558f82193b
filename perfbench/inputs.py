"""Seeded inputs and their expected outputs.

The benchmark owns its generators: the program under test receives only the
generated parquet, and every expected output is known from how the input
was built, never from the program itself.

* transcripts: base conversations of vocabulary words plus planted
  near-duplicates (1-2 unit edits inside single turns). Unrelated
  conversations are far apart, so the matches are exactly the planted
  (base, duplicate) pairs plus the (duplicate, duplicate) pairs within the
  distance budget, and each cluster is one base with its duplicates.
* hard pairs: (text_a, text_b) pairs built at a known Levenshtein distance
  0, 1 or 2, so every pair is a true near-duplicate and the banded DP runs
  every row.
"""

from __future__ import annotations

import datetime as dt
import random
import string

import pyarrow as pa

MAX_DISTANCE = 2
SEP = "\x1e"  # turn separator inside a fingerprint; never a generated char

_VOCAB = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu please run the tool and report status ok retry failed "
    "done open file close query index table merge split join cluster score "
    "match block stream batch commit state ingest load cache"
).split()
_ROLES = ("user", "assistant", "tool")
_TOOLS = ("", "", "search", "bash", "python")
_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
_LETTERS = string.ascii_lowercase

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
])


def _edit(rng: random.Random, s: str, op: str) -> str:
    """One unit-cost edit that always changes s."""
    i = rng.randrange(len(s))
    if op == "sub":
        return s[:i] + rng.choice(_LETTERS.replace(s[i], "")) + s[i + 1:]
    if op == "ins":
        return s[:i] + rng.choice(_LETTERS) + s[i:]
    return s[:i] + s[i + 1:]


def banded_levenshtein(a: str, b: str, k: int) -> int:
    """Plain-Python Levenshtein distance capped at k + 1 (band of width
    2k+1), the reference the engine's kernel is checked against."""
    if abs(len(a) - len(b)) > k:
        return k + 1
    big = k + 1
    prev = {j: j for j in range(0, min(len(b), k) + 1)}
    for i in range(1, len(a) + 1):
        cur = {}
        for j in range(max(0, i - k), min(len(b), i + k) + 1):
            best = big
            if j == 0:
                best = i
            else:
                best = min(best, prev.get(j - 1, big) + (a[i - 1] != b[j - 1]),
                           cur.get(j - 1, big) + 1)
            best = min(best, prev.get(j, big) + 1)
            cur[j] = min(best, big)
        prev = cur
    return min(prev.get(len(b), big), big)


class Corpus:
    """Seeded transcripts with planted near-duplicates and the expected
    linkage output over any subset of its conversations."""

    def __init__(self, seed: int, n_base: int, dup_fraction: float = 0.5):
        rng = random.Random(seed)
        self.turns: dict[str, list[str]] = {}
        self.base_of: dict[str, str] = {}
        for b in range(n_base):
            base = f"b{b:06d}"
            turns = [" ".join(rng.choice(_VOCAB) for _ in range(rng.randint(3, 8)))
                     for _ in range(rng.randint(3, 6))]
            self.turns[base] = turns
            self.base_of[base] = base
            if rng.random() < dup_fraction:
                for d in range(rng.randint(1, 2)):
                    dup = list(turns)
                    for _ in range(rng.randint(1, MAX_DISTANCE)):
                        t = rng.randrange(len(dup))
                        dup[t] = _edit(rng, dup[t], rng.choice(("sub", "ins", "del")))
                    self.turns[f"{base}_d{d}"] = dup
                    self.base_of[f"{base}_d{d}"] = base
        self._rng = rng

    def table(self, conv_ids) -> pa.Table:
        cols: dict[str, list] = {f.name: [] for f in TRANSCRIPT_SCHEMA}
        for n, cid in enumerate(conv_ids):
            for t, text in enumerate(self.turns[cid]):
                cols["conv_id"].append(cid)
                cols["turn_idx"].append(t)
                cols["role"].append(_ROLES[t % 3])
                cols["text"].append(text)
                cols["tool"].append(_TOOLS[(n + t) % len(_TOOLS)])
                cols["ts"].append(_EPOCH + dt.timedelta(seconds=n * 100 + t))
        return pa.table(cols, schema=TRANSCRIPT_SCHEMA)

    def batches(self, size: int) -> list[list[str]]:
        """All conversations in a seeded order, cut into batches; a
        duplicate may arrive before or after its base."""
        ids = sorted(self.turns)
        self._rng.shuffle(ids)
        return [ids[i:i + size] for i in range(0, len(ids), size)]

    def expected(self, conv_ids) -> tuple[set, dict]:
        """(matches, clusters) over conv_ids: the set of matching (id_a, id_b)
        pairs with id_a < id_b, and conv_id -> cluster_id (the smallest id
        of its component)."""
        groups: dict[str, list[str]] = {}
        for cid in conv_ids:
            groups.setdefault(self.base_of[cid], []).append(cid)
        matches, clusters = set(), {}
        for members in groups.values():
            members.sort()
            fps = {m: SEP.join(self.turns[m]) for m in members}
            for i, a in enumerate(members):
                for b in members[i + 1:]:
                    # a base and its duplicate are within the budget by
                    # construction; two duplicates of one base may not be
                    if (self.base_of[a] in (a, b)
                            or banded_levenshtein(fps[a], fps[b], MAX_DISTANCE) <= MAX_DISTANCE):
                        matches.add((a, b))
            # every duplicate matches its base, so a group is one component
            for m in members:
                clusters[m] = members[0]
        return matches, clusters


_VARIANTS = 8  # partners per base text in hard_pairs


def hard_pairs(seed: int, n_pairs: int) -> tuple[pa.Table, list[int]]:
    """(pair_id, text_a, text_b) pairs and their exact distances. Each base
    text (120-240 chars) gets _VARIANTS partners: a copy (distance 0), one
    substitution, insertion or deletion (1), or two substitutions at
    distinct positions of an equal-length copy (2: Hamming distance 2 and
    equal length rule out distance 1)."""
    rng = random.Random(seed)
    ids, texts_a, texts_b, dists = [], [], [], []
    while len(ids) < n_pairs:
        words, size = [], 0
        target = rng.randint(120, 240)
        while size < target:
            w = rng.choice(_VOCAB)
            words.append(w)
            size += len(w) + 1
        a = " ".join(words)
        for _ in range(min(_VARIANTS, n_pairs - len(ids))):
            d = rng.choice((0, 1, 1, 2, 2, 2))
            if d == 0:
                b = a
            elif d == 1:
                b = _edit(rng, a, rng.choice(("sub", "ins", "del")))
            else:
                i, j = rng.sample(range(len(a)), 2)
                b = _edit_at(rng, _edit_at(rng, a, i), j)
            ids.append(len(ids))
            texts_a.append(a)
            texts_b.append(b)
            dists.append(d)
    table = pa.table({"pair_id": pa.array(ids, pa.int64()),
                      "text_a": pa.array(texts_a, pa.string()),
                      "text_b": pa.array(texts_b, pa.string())})
    return table, dists


def _edit_at(rng: random.Random, s: str, i: int) -> str:
    return s[:i] + rng.choice(_LETTERS.replace(s[i], "")) + s[i + 1:]
