"""Line-level content diff — port of change-tracking.ts:93-176.

LCS (dynamic-programming) line diff with addition/deletion counts and
the reference's unified-diff-ish text rendering.  Used by the
change-tracking operators to enrich 'changed' rows with what actually
changed (the reference surfaces this in watch mode)."""

from __future__ import annotations

from typing import List, NamedTuple


class DiffChange(NamedTuple):
    type: str     # 'add' | 'del' | 'normal'
    line: int
    content: str


class DiffResult(NamedTuple):
    text: str
    additions: int
    deletions: int
    changes: List[DiffChange]


def compute_diff(old_content: str, new_content: str) -> DiffResult:
    """change-tracking.ts:93 — LCS diff over lines."""
    old_lines = old_content.split("\n")
    new_lines = new_content.split("\n")
    m, n = len(old_lines), len(new_lines)

    lcs = [[0] * (n + 1) for _ in range(m + 1)]
    for i in range(1, m + 1):
        oi = old_lines[i - 1]
        row = lcs[i]
        prev = lcs[i - 1]
        for j in range(1, n + 1):
            if oi == new_lines[j - 1]:
                row[j] = prev[j - 1] + 1
            else:
                row[j] = prev[j] if prev[j] >= row[j - 1] else row[j - 1]

    changes: List[DiffChange] = []
    i, j = m, n
    while i > 0 or j > 0:
        if i > 0 and j > 0 and old_lines[i - 1] == new_lines[j - 1]:
            changes.insert(0, DiffChange("normal", j, new_lines[j - 1]))
            i -= 1
            j -= 1
        elif j > 0 and (i == 0 or lcs[i][j - 1] >= lcs[i - 1][j]):
            changes.insert(0, DiffChange("add", j, new_lines[j - 1]))
            j -= 1
        elif i > 0:
            changes.insert(0, DiffChange("del", i, old_lines[i - 1]))
            i -= 1

    additions = sum(1 for c in changes if c.type == "add")
    deletions = sum(1 for c in changes if c.type == "del")

    # unified-diff-ish text (ts:141-169, chunk-jumping behavior kept)
    diff_lines: List[str] = []
    context_start = 0
    idx = 0
    while idx < len(changes):
        change = changes[idx]
        if change.type != "normal":
            chunk_start = max(0, idx - 3)
            chunk_end = min(len(changes), idx + 10)
            if idx > context_start:
                diff_lines.append(
                    f"@@ -{chunk_start + 1},{chunk_end - chunk_start} "
                    f"+{chunk_start + 1},{chunk_end - chunk_start} @@")
            for k in range(chunk_start, chunk_end):
                c = changes[k]
                prefix = "+" if c.type == "add" else (
                    "-" if c.type == "del" else " ")
                diff_lines.append(f"{prefix}{c.content}")
            context_start = chunk_end
            idx = chunk_end - 1
        idx += 1

    return DiffResult("\n".join(diff_lines), additions, deletions, changes)
