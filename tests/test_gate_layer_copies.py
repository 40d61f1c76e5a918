"""Guard against re-pasting in the gate layer: no run of ``WINDOW``
consecutive code lines may appear verbatim at two places across
``signalk_parquet_spark/queries_*.py``.

Lines are compared stripped. Blank lines, ``#`` comment lines and
docstrings are skipped; lines inside SQL string literals count, so a
pasted CTE fails here just like pasted Python. A shared fragment belongs
in one builder function of the module that owns the family (CLAUDE.md,
"Adding a gate query"). Pure source scan: no Spark, well under a second.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

WINDOW = 8
PKG = Path(__file__).resolve().parent.parent / "signalk_parquet_spark"


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(path: Path) -> list[tuple[int, str]]:
    """(line number, stripped text) of every code line of ``path``."""
    src = path.read_text()
    skip = _docstring_lines(ast.parse(src))
    out = []
    for no, line in enumerate(src.splitlines(), 1):
        text = line.strip()
        if text and not text.startswith("#") and no not in skip:
            out.append((no, text))
    return out


def repeated_blocks(paths: list[Path], window: int = WINDOW) -> list[list[tuple[str, int]]]:
    """Runs of code lines that appear verbatim at two or more places, one
    entry per group of copies: the (file name, first line) of every copy
    of the run's first ``window`` lines. Empty exactly when no window of
    ``window`` lines repeats."""
    seqs = {p.name: code_lines(p) for p in paths}

    def text(seq: list[tuple[int, str]], i: int) -> tuple[str, ...]:
        return tuple(t for _, t in seq[i : i + window])

    places: dict[tuple[str, ...], list[tuple[str, int]]] = defaultdict(list)
    for name, seq in seqs.items():
        for i in range(len(seq) - window + 1):
            places[text(seq, i)].append((name, seq[i][0]))
    blocks: dict[tuple[tuple[str, int], ...], list[tuple[str, int]]] = {}
    for seq in seqs.values():
        prev = False
        for i in range(len(seq) - window + 1):
            copies = places[text(seq, i)]
            if len(copies) > 1 and not prev:  # a run of repeated windows starts
                blocks.setdefault(tuple(copies), copies)
            prev = len(copies) > 1
    return list(blocks.values())


def test_no_verbatim_block_repeats_across_gate_modules():
    paths = sorted(PKG.glob("queries_*.py"))
    assert paths, PKG
    blocks = repeated_blocks(paths)
    report = "\n".join(
        " = ".join(f"{name}:{line}" for name, line in places) for places in blocks
    )
    assert not blocks, (
        f"{len(blocks)} block(s) of {WINDOW}+ code lines pasted verbatim; "
        f"compose them from one builder instead:\n{report}"
    )
