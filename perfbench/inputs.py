"""Seeded benchmark inputs.

Transcripts are composed from the ``tools/synth`` generators (imported,
never edited): conversation lengths come from its ``conv_length`` and each
payload from its per-kind generator. Its 80/19/1 % short/medium/very long
rule and the payload-kind mix are filled by exact quota rather than drawn,
so every seed gives an input of the same size and shape: a seed that drew
no very long conversation, or one holding the whole input, would change
the work by far more than any change to the program. A run writes its
inputs into its own scratch directory; generating them takes about a
second and is reported apart from set-up.

The datawork probe reads fixed tables kept beside this file: ``tables/``
holds the documents and events tables of the sf0.001 test data, unchanged.
"""

from __future__ import annotations

import random
from datetime import timedelta
from pathlib import Path

from tools import synth

#: the fixed datawork tables (documents.parquet, events.parquet)
TABLES = Path(__file__).resolve().parent / "tables"

#: payload-kind shares (synth kind name → share of turns)
MIXES = {
    "mixed": {"md_clean": 0.25, "md_grounded": 0.25,
              "html_fragment": 0.25, "plain": 0.25},
    "plain": {"plain": 1.0},
}


#: conversations per input in each of ``synth.conv_length``'s classes
CONV_CLASSES = (("short", 80), ("medium", 19))


def _length_class(n: int) -> str:
    return "short" if n <= 8 else "medium" if n <= 60 else "long"


def conv_lengths(seed: int, n_turns: int) -> list[int]:
    """80 short and 19 medium conversations drawn by ``synth.conv_length``
    (redrawn until it yields the class), and one very long conversation
    holding the remaining turns, in seed order."""
    rng = random.Random(f"len:{seed}")
    lengths: list[int] = []
    for cls, count in CONV_CLASSES:
        while count:
            n = synth.conv_length(len(lengths), rng)
            if _length_class(n) == cls:
                lengths.append(n)
                count -= 1
    rest = n_turns - sum(lengths)
    if _length_class(rest) != "long":
        raise ValueError(f"{n_turns} turns leave {rest} for the very long "
                         f"conversation")
    lengths.append(rest)
    rng.shuffle(lengths)
    return lengths


def transcript_rows(seed: int, n_turns: int, mix: str) -> list[dict]:
    """Exactly ``n_turns`` shuffled transcript rows in ``conv_lengths``
    conversations. Kinds are assigned by an exact quota per share, shuffled
    by the seed, so every seed carries the same mix."""
    shares = MIXES[mix]
    kinds: list[str] = []
    for kind, share in shares.items():
        kinds += [kind] * round(n_turns * share)
    kinds = (kinds + [next(iter(shares))] * n_turns)[:n_turns]
    rng = random.Random(f"mix:{seed}")
    rng.shuffle(kinds)
    gen = {k: getattr(synth, f"gen_{k}") for k in shares}
    rows: list[dict] = []
    for conv_index, length in enumerate(conv_lengths(seed, n_turns)):
        conv_id = f"conv-{seed}-{conv_index:06d}"
        for turn_idx in range(length):
            kind = kinds[len(rows)]
            payload_rng = random.Random(f"{seed}:{conv_id}:{turn_idx}")
            rows.append({
                "conv_id": conv_id,
                "turn_idx": turn_idx,
                "role": synth.ROLES[turn_idx % len(synth.ROLES)],
                "text": gen[kind](payload_rng),
                "tool": synth.TOOLS[kind],
                "ts": synth.BASE_TS + timedelta(
                    seconds=conv_index * 60 + turn_idx),
            })
    rng.shuffle(rows)
    return rows


def write_transcripts(path: Path, seed: int, n_turns: int, mix: str) -> Path:
    """Write the seeded transcript table to ``path`` as parquet."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    schema = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()),
                        ("role", pa.string()), ("text", pa.string()),
                        ("tool", pa.string()), ("ts", pa.timestamp("us"))])
    table = pa.Table.from_pylist(transcript_rows(seed, n_turns, mix),
                                 schema=schema)
    path.parent.mkdir(parents=True, exist_ok=True)
    # several row groups, so the scan splits across cores
    pq.write_table(table, path, row_group_size=max(1, n_turns // 8))
    return path
