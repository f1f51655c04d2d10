"""Seeded input generator and its expected outputs.

Every conversation replays one seeded ``datagen.synth_game_log`` template.
The word ``someone`` in the template's kill lines is replaced by the
conversation id, so the text differs per conversation and parquet cannot
dictionary-collapse it; the replacement never touches a token the parser
reads, so every conversation has the template's semantics.  Expected sink
counts and aggregate sums come from the sequential oracle
(``tests/oracle.py::scan_lines``) run over the template's lines.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

LINES_PER_TURN = 4


@dataclass
class Expected:
    """Sink row counts and aggregate sums that a correct run must produce."""

    counts: dict[str, int]
    sums: dict[str, int]

    def times(self, n: int) -> "Expected":
        return Expected(
            {k: v * n for k, v in self.counts.items()},
            {k: v * n for k, v in self.sums.items()},
        )


@dataclass
class Dataset:
    """``n_files`` parquet files of ``convs_per_file`` conversations each."""

    path: str
    n_files: int
    convs_per_file: int
    turns_per_conv: int
    input_bytes: int
    report_conv: str  # a conversation of the first file
    per_conv: Expected
    expected_report: str

    def turns(self, files: int) -> int:
        return self.turns_per_conv * self.convs_per_file * files

    def expected(self, files: int) -> Expected:
        return self.per_conv.times(self.convs_per_file * files)

    def describe(self) -> dict:
        convs = self.convs_per_file * self.n_files
        return {
            "turns": self.turns(self.n_files),
            "convs": convs,
            "files": self.n_files,
            "input_bytes": self.input_bytes,
            "input_bytes_per_turn": round(self.input_bytes / self.turns(self.n_files), 2),
            "largest_conv_share": round(1 / convs, 6),
        }


def _gated(parts: list[str]) -> bool:
    t = parts[0]
    return len(t) >= 4 and all(c in "0123456789:" for c in t)


def expected_for(lines: list[str]) -> tuple[Expected, list]:
    """Expected sink counts and sums for one conversation's log lines, and
    the oracle's finished games."""
    from tests.oracle import _u32, scan_lines

    games, rejects = scan_lines(lines)
    # a trailing ShutdownGame flushes the open EOF game, so its kills — which
    # the kills sink keeps with a NULL game_id — are counted too
    all_games, _ = scan_lines(lines + [" 0:00 ShutdownGame:"])
    boundaries = player_state = 0
    for line in lines:
        parts = line.split()
        if len(parts) < 2 or not _gated(parts):
            continue
        if parts[1] in ("InitGame:", "ShutdownGame:"):
            boundaries += 1
        elif parts[1] in ("ClientConnect:", "ClientUserinfoChanged:"):
            player_state += len(parts) >= 3 and _u32(parts[2]) is not None
    labels = _mod_labels()
    hist_rows = sum(len({labels(m) for m in g.hist}) for g in games)
    exp = Expected(
        counts={
            "kills": sum(g.total_kills for g in all_games),
            "game_boundaries": boundaries,
            "player_state": player_state,
            "rejects": len(rejects),
            "game_totals": len(games),
            "mod_histogram": hist_rows,
            "player_ranking": sum(len(g.players) for g in games),
        },
        sums={
            "total_kills": sum(g.total_kills for g in games),
            "histogram_kills": sum(sum(g.hist.values()) for g in games),
            "score": sum(k for g in games for _, k in g.players.values()),
        },
    )
    return exp, games


def _mod_labels():
    from wolf_quake_spark.data_model import MOD_LOOKUP_ROWS, UNKNOWN_MOD

    names = dict(MOD_LOOKUP_ROWS)
    return lambda mod_id: names.get(mod_id, UNKNOWN_MOD)


def expected_report(games) -> str:
    """The text report of one conversation, built from the oracle's games."""
    from wolf_quake_spark.report import GameReport, render_text

    label = _mod_labels()
    reports = []
    for i, g in enumerate(games, start=1):
        causes: dict[str, int] = {}
        for mod_id, n in g.hist.items():
            causes[label(mod_id)] = causes.get(label(mod_id), 0) + n
        players = sorted(g.players.items(), key=lambda kv: (-kv[1][1], kv[0]))
        reports.append(
            GameReport(
                i,
                g.total_kills,
                [(name, kills) for _, (name, kills) in players],
                sorted(causes.items(), key=lambda kv: (-kv[1], kv[0])),
            )
        )
    return render_text(reports)


# Malformed gated lines, so that the rejects sink has rows to write.
_MALFORMED = (" 1:00 Kill: 2 x 7:", " 1:00 ClientConnect:", " 1:00 Kill: 3 4")


def template_lines(seed: int) -> list[str]:
    from wolf_quake_spark.datagen import synth_game_log

    lines = synth_game_log(seed=seed)
    rng = random.Random(seed)
    for bad in _MALFORMED:
        lines.insert(rng.randrange(1, len(lines)), bad)
    return lines


def _conv_table(conv_ids: list[str], tpl_turns: list[str]):
    import pyarrow as pa

    conv_col, text_col = [], []
    for cv in conv_ids:
        conv_col.extend([cv] * len(tpl_turns))
        text_col.extend(t.replace("someone", cv) for t in tpl_turns)
    idx = list(range(len(tpl_turns))) * len(conv_ids)
    return pa.table(
        {
            "conv_id": pa.array(conv_col, pa.string()),
            "turn_idx": pa.array(idx, pa.int32()),
            "role": pa.array([_ROLES[i % 3] for i in idx], pa.string()),
            "text": pa.array(text_col, pa.string()),
            "tool": pa.array([_TOOLS[i % len(_TOOLS)] for i in idx], pa.string()),
            "ts": pa.array([(_TS0 + i) * 1_000_000 for i in idx], pa.timestamp("us", tz="UTC")),
        }
    )


_ROLES = ("user", "assistant", "tool")
_TOOLS = ("bash", "python", None, "search", None, "editor", None)
_TS0 = 1704067200


def generate(path: str, seed: int, n_files: int, convs_per_file: int) -> Dataset:
    """Write ``n_files`` parquet files of ``convs_per_file`` conversations
    under ``path``.  Each conversation lies whole inside one file, as the
    streaming adapter requires of its micro-batches."""
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    lines = template_lines(rng.randrange(1 << 30))
    tpl_turns = [
        "\n".join(lines[i : i + LINES_PER_TURN])
        for i in range(0, len(lines), LINES_PER_TURN)
    ]
    per_conv, games = expected_for(lines)
    os.makedirs(path, exist_ok=True)
    input_bytes = 0
    for f in range(n_files):
        chunk = [f"conv-{f * convs_per_file + i:08d}" for i in range(convs_per_file)]
        name = os.path.join(path, f"part-{f:05d}.parquet")
        pq.write_table(_conv_table(chunk, tpl_turns), name)
        input_bytes += os.path.getsize(name)
    return Dataset(
        path=path,
        n_files=n_files,
        convs_per_file=convs_per_file,
        turns_per_conv=len(tpl_turns),
        input_bytes=input_bytes,
        report_conv=f"conv-{rng.randrange(convs_per_file):08d}",
        per_conv=per_conv,
        expected_report=expected_report(games),
    )
