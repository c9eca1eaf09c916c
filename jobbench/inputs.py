"""Seeded benchmark inputs and their goldens.

Every value derives from the workload seed, so one seed always gives the
same transcripts and the same expected outputs. The inputs are written as
a plain Parquet transcripts table, which ``jobs/run_extract.py`` reads
through its ``--input`` flag; the program under test never sees the seed.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from textract_demo_spark.fixtures.generator import make_fixtures

EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)
ROLES = ("user", "assistant", "tool")
INPUT_FILES = 4
VOCABULARY_SIZE = 6000

ARROW_SCHEMA = pa.schema([
    pa.field("conv_id", pa.string(), False),
    pa.field("turn_idx", pa.int32(), False),
    pa.field("role", pa.string()),
    pa.field("text", pa.string()),
    pa.field("tool", pa.string()),
    pa.field("ts", pa.timestamp("us", tz="UTC")),
])


@dataclass
class Inputs:
    """Transcript rows plus, per ``(conv_id, turn_idx)``, the golden
    ``(status, main_text, spans)`` the job must commit."""

    rows: list[dict]
    golden: dict[tuple[str, int], tuple[str, str, list[tuple[int, int]]]]
    turns_per_conv: dict[str, int]

    @property
    def n_turns(self) -> int:
        return len(self.rows)


def mixed_inputs(seed: int, target_turns: int) -> Inputs:
    """The fixture generator's production mix (html 42% / table 13% /
    pdf 20% / plain 15% / fallback 5% / bad 5%; 4% hot conversations of
    96-191 turns) with goldens from the same ``make_turn`` calls."""
    # mean turns per conversation: 0.96 * 4 + 0.04 * 143.5 ~= 9.6
    fx = make_fixtures(max(2, round(target_turns / 9.6)), seed=seed)
    golden, counts = {}, {}
    for exp in fx["expected_turns"]:
        key = (exp["conv_id"], exp["turn_idx"])
        golden[key] = (exp["status"], exp["main_text"],
                       [tuple(s) for s in exp["spans"]])
        counts[key[0]] = counts.get(key[0], 0) + 1
    return Inputs(fx["transcripts"], golden, counts)


def _vocabulary(rng: random.Random) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    return ["".join(rng.choice(letters) for _ in range(rng.randint(2, 11)))
            for _ in range(VOCABULARY_SIZE)]


def _chat_text(rng: random.Random, vocab: list[str]) -> str:
    """One chat message of roughly 30 B to 3 KB (log-uniform length)."""
    target = int(30 * 100 ** rng.random())
    words, size = [], 0
    while size < target:
        w = rng.choice(vocab)
        if rng.random() < 0.08:
            w = w.capitalize() + rng.choice((".", ",", "?", "!"))
        words.append(w)
        size += len(w) + 1
    return " ".join(words)


def chat_inputs(seed: int, target_turns: int) -> Inputs:
    """Plain-text chat turns only; one conversation holds about a third
    of the turns, the others have 2-6 turns. ``main_text`` must equal the
    payload (plain extraction is an identity)."""
    rng = random.Random(seed)
    vocab = _vocabulary(rng)
    hot = max(1, target_turns // 3)
    counts = [(f"s{seed}-hot", hot)]
    total, c = hot, 0
    while total < target_turns:
        n = 2 + rng.randrange(5)
        counts.append((f"s{seed}-c{c:06d}", n))
        total += n
        c += 1
    rows, golden = [], {}
    for conv_id, n in counts:
        base = EPOCH + timedelta(seconds=rng.randrange(86400))
        for t in range(n):
            text = _chat_text(rng, vocab)
            rows.append({"conv_id": conv_id, "turn_idx": t,
                         "role": ROLES[t % 3], "text": text, "tool": "",
                         "ts": base + timedelta(seconds=7 * t)})
            golden[(conv_id, t)] = ("ok", text, [(0, len(text))])
    return Inputs(rows, golden, dict(counts))


def write_parquet(inputs: Inputs, path: str) -> None:
    """Write the transcripts as ``INPUT_FILES`` Parquet files of equal
    row counts, so the input scan uses every task slot."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pylist(inputs.rows, schema=ARROW_SCHEMA)
    step = -(-table.num_rows // INPUT_FILES)
    for i in range(INPUT_FILES):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i}.parquet"))
