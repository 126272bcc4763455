"""Seeded transcript inputs for the three workloads.

Everything here is a pure function of the seed: one ``random.Random``
draws conversation lengths, templates and filler, and the rows are
written as parquet with pyarrow in the transcripts schema
``(conv_id, turn_idx, role, text, tool, ts)`` — the input ``kgnorm.job
--input`` reads.  The program under test sees only these files.

Turn texts are built from the 10 golden note templates
(``data/synthetic_notes.json``).  ``distinct`` texts append a filler of
``zq<digits>`` tokens: no dictionary key contains ``zq`` (checked at
generation), and every dictionary match must start and end on a word
boundary, so a match touching the filler would have to cover a whole
filler token — impossible.  The filler carries no colon (no section
header) and no context trigger word.  Each text therefore yields exactly
its template's mentions, and the triples a batch must emit are known
from the generator alone.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

N_FILES = 8  # input part files, as a 4-core Spark writer would leave them
TURNS_PER_CONV = 8  # conversation length where lengths are uniform

_SCHEMA = pa.schema([
    pa.field("conv_id", pa.string(), nullable=False),
    pa.field("turn_idx", pa.int32(), nullable=False),
    pa.field("role", pa.string()),
    pa.field("text", pa.string()),
    pa.field("tool", pa.string()),
    pa.field("ts", pa.timestamp("us", tz="UTC")),
])
_T0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)


@dataclass
class Transcripts:
    """Generated turns plus what the generator knows about them."""

    conv_ids: list[str] = field(default_factory=list)
    turn_idx: list[int] = field(default_factory=list)
    texts: list[str] = field(default_factory=list)
    templates: list[int] = field(default_factory=list)  # template index per turn

    def __len__(self) -> int:
        return len(self.texts)

    def add(self, conv_id: str, turn_idx: int, text: str, template: int) -> None:
        self.conv_ids.append(conv_id)
        self.turn_idx.append(turn_idx)
        self.texts.append(text)
        self.templates.append(template)

    def __add__(self, other: "Transcripts") -> "Transcripts":
        out = Transcripts()
        for part in (self, other):
            out.conv_ids += part.conv_ids
            out.turn_idx += part.turn_idx
            out.texts += part.texts
            out.templates += part.templates
        return out

    def conv_templates(self) -> dict[str, set[int]]:
        by_conv: dict[str, set[int]] = {}
        for c, t in zip(self.conv_ids, self.templates):
            by_conv.setdefault(c, set()).add(t)
        return by_conv

    def turns_of(self, convs: set[str]) -> list[tuple[str, str]]:
        return [(c, t) for c, t in zip(self.conv_ids, self.texts) if c in convs]

    def write(self, path: str) -> None:
        """Write as ``N_FILES`` parquet parts, conversations kept contiguous."""
        os.makedirs(path)
        n = len(self)
        ts = [_T0 + dt.timedelta(seconds=i) for i in range(n)]
        roles = ["user" if i % 2 == 0 else "assistant" for i in self.turn_idx]
        table = pa.table(
            [self.conv_ids, self.turn_idx, roles, self.texts, [""] * n, ts],
            schema=_SCHEMA,
        )
        step = -(-n // N_FILES)
        for k in range(N_FILES):
            pq.write_table(table.slice(k * step, step),
                           os.path.join(path, f"part-{k:05d}.parquet"))


class Generator:
    def __init__(self, templates: list[str], dictionary_keys: list[str]) -> None:
        if any("zq" in k for k in dictionary_keys):
            raise ValueError("a dictionary key contains the filler marker 'zq'")
        self.templates = templates

    def _filler(self, rng: random.Random, uid: int) -> str:
        words = [f"zq{uid}"] + [f"zq{rng.randrange(10**6)}" for _ in range(rng.randint(6, 14))]
        return " ".join(words) + "."

    def _text(self, rng: random.Random, distinct: bool, uid: int) -> tuple[str, int]:
        t = rng.randrange(len(self.templates))
        text = self.templates[t]
        if distinct:
            text = f"{text} {self._filler(rng, uid)}"
        return text, t

    def conversations(self, rng: random.Random, lengths: list[int], distinct: bool,
                      prefix: str) -> Transcripts:
        out = Transcripts()
        for c, length in enumerate(lengths):
            for i in range(length):
                text, t = self._text(rng, distinct, len(out))
                out.add(f"{prefix}{c:07d}", i, text, t)
        return out

    def dup_batch(self, seed: int, n_turns: int) -> Transcripts:
        """Template texts; heavy-tailed conversation lengths (Pareto, alpha
        1.2, min 2 turns, capped at 5% of the turns), so the longest few
        conversations hold a large share of all turns."""
        rng = random.Random(seed)
        cap, lengths = max(2, n_turns // 20), []
        while sum(lengths) < n_turns:
            lengths.append(min(cap, int(2 * rng.paretovariate(1.2))))
        lengths[-1] -= sum(lengths) - n_turns  # stays >= 1: the sum was < n before
        return self.conversations(rng, lengths, False, "D")

    def distinct_batch(self, seed: int, n_turns: int) -> Transcripts:
        """Every text distinct (template + seeded filler); uniform lengths."""
        rng = random.Random(seed)
        n_conv = -(-n_turns // TURNS_PER_CONV)
        lengths = [TURNS_PER_CONV] * n_conv
        lengths[-1] -= n_conv * TURNS_PER_CONV - n_turns
        return self.conversations(rng, lengths, True, "U")

    def append_base(self, seed: int, n_conv: int) -> Transcripts:
        return self.conversations(random.Random(seed), [TURNS_PER_CONV] * n_conv, False, "A")

    def append_delta(self, seed: int, base: Transcripts, n_old: int, old_turns: int,
                     n_new: int) -> Transcripts:
        """New turns for ``n_old`` seeded existing conversations (turn indexes
        continue after each one's last) plus ``n_new`` new conversations."""
        rng = random.Random(seed)
        last: dict[str, int] = {}
        for c, i in zip(base.conv_ids, base.turn_idx):
            last[c] = max(i, last.get(c, -1))
        out = Transcripts()
        for c in sorted(rng.sample(sorted(last), n_old)):
            for i in range(old_turns):
                text, t = self._text(rng, False, 0)
                out.add(c, last[c] + 1 + i, text, t)
        return out + self.conversations(rng, [TURNS_PER_CONV] * n_new, False, "N")
