"""Output checks for the benchmark workloads.

`EvidenceReference` recomputes the deterministic evidence block of
`ask.QASession.ask` with plain dicts and sets, from the lineage tables
collected once per run. It follows `lineage.graphqa.build_evidence`: the
same candidate-column rule, min-depth closures (node cap 2000, depth 20 for
columns and 10 for scripts), the MAX_* display caps, the orderings and the
whitespace squeeze. Every answer's evidence must match it byte for byte.

`table_hash` is the order-insensitive table hash of `tools/check_oracle.py`,
re-exported so an analytics result is checked exactly as the oracle gate
checks it.
"""

from __future__ import annotations

import os
import re
import sys
from collections import defaultdict

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_ROOT, "tools"))

from check_oracle import table_hash  # noqa: E402,F401

MAX_IMPACT_COLS = 3
BFS_NODE_LIMIT = 2000
COLUMN_DEPTH = 20
SCRIPT_DEPTH = 10
MAX_IMPACT_SHOW = 80
MAX_REASON_SHOW = 20
MAX_SCRIPTS_SHOW = 50
MAX_GOLD_SHOW = 60


def _min_depths(adj: dict[str, set[str]], seeds: set[str], max_depth: int) -> dict[str, int]:
    """Min hop count (1..max_depth) from the seed set; seeds at depth 0 are
    left out, as `operators.graph.bfs_closure` leaves them out."""
    depth = {s: 0 for s in seeds}
    frontier = sorted(seeds)
    for d in range(1, max_depth + 1):
        nxt = []
        for node in frontier:
            for dst in adj.get(node, ()):
                if dst not in depth:
                    depth[dst] = d
                    nxt.append(dst)
        if not nxt:
            break
        frontier = nxt
    return {n: d for n, d in depth.items() if d > 0}


def _norm_path(path: str) -> str:
    return re.sub(r"/+$", "", path.strip(" "))


class EvidenceReference:
    """Dict-BFS reference for the deterministic evidence of one session.

    columns: (script_name, col_name, derived_from) rows of the columns table;
    edges: (src_col, target_col, reason) rows of the edges table;
    assets: (script_name, direction, path) rows of the assets table.
    """

    def __init__(self, columns, edges, assets):
        self.known: set[str] = set()
        self.col_scripts: dict[str, set[str]] = defaultdict(set)
        for script, col, derived in columns:
            self.col_scripts[col].add(script)
            if derived is None:
                continue  # array_union(array(col), NULL) is NULL: no names
            self.known.update(c for c in [col, *derived] if c is not None)
            for c in derived:
                self.col_scripts[c].add(script)
        graph = {(s, d, r) for s, d, r in edges if s is not None and d is not None and s != d}
        self.col_adj: dict[str, set[str]] = defaultdict(set)
        self.reasons: dict[str, set[tuple]] = defaultdict(set)
        for s, d, r in graph:
            self.col_adj[s].add(d)
            self.reasons[s].add((d, r))
        writers: dict[str, str] = {}
        reads: list[tuple[str, str]] = []
        self.gold: dict[str, set[str]] = defaultdict(set)
        for script, direction, path in assets:
            if path is None:
                continue
            if direction == "write":
                key = _norm_path(path)
                writers[key] = max(writers.get(key, script), script)
                if "gold" in path.split("/"):
                    self.gold[script].add(path)
            elif direction == "read":
                reads.append((_norm_path(path), script))
        self.script_adj: dict[str, set[str]] = defaultdict(set)
        for asset, reader in reads:
            writer = writers.get(asset)
            if writer is not None and writer != reader:
                self.script_adj[writer].add(reader)

    def depths(self, col: str) -> tuple[int, int]:
        """(column-closure depth, downstream-script depth) of one column."""
        cols = _min_depths(self.col_adj, {col}, COLUMN_DEPTH)
        scripts = _min_depths(self.script_adj, self.col_scripts.get(col, set()), SCRIPT_DEPTH)
        return max(cols.values(), default=0), max(scripts.values(), default=0)

    def candidates(self, question: str) -> list[str]:
        out: list[str] = []
        for tok in re.findall(r"`([^`]+)`", question) + re.findall(
            r"[A-Za-z_][A-Za-z0-9_]*", question
        ):
            if tok in self.known and tok not in out:
                out.append(tok)
        return out[:MAX_IMPACT_COLS]

    def evidence(self, question: str) -> str:
        cands = self.candidates(question)
        lines = [f"QUESTION: {question}", f"CANDIDATE COLUMNS: {', '.join(cands) or '(none)'}"]
        scripts: set[str] = set()
        for cand in cands:
            closure = sorted(
                (d, n) for n, d in _min_depths(self.col_adj, {cand}, COLUMN_DEPTH).items()
            )[:BFS_NODE_LIMIT]
            impacted = [n for _, n in closure[:MAX_IMPACT_SHOW]]
            lines.append(
                f"COLUMN IMPACT {cand} -> ({len(impacted)}): {', '.join(impacted) or '(none)'}"
            )
            # Spark sorts NULL reasons first
            reasons = sorted(self.reasons.get(cand, ()), key=lambda x: (x[0], x[1] is not None, x[1] or ""))
            if reasons:
                lines.append(
                    f"ONE-HOP REASONS {cand}: "
                    + " | ".join(f"{cand} -> {d}: {r}" for d, r in reasons[:MAX_REASON_SHOW])
                )
            seeds = self.col_scripts.get(cand, set())
            scripts |= seeds | set(_min_depths(self.script_adj, seeds, SCRIPT_DEPTH))
        if cands:
            # the program takes an unordered LIMIT before sorting, so the
            # reference is exact only while the set fits under the cap
            if len(scripts) > MAX_SCRIPTS_SHOW:
                raise ValueError(f"{len(scripts)} impacted scripts exceed the display cap")
            names = sorted(scripts)
            lines.append(f"IMPACTED SCRIPTS ({len(names)}): {', '.join(names)}")
            gold = sorted(p for s in scripts for p in self.gold.get(s, ()))
            if len(gold) > MAX_GOLD_SHOW:
                raise ValueError(f"{len(gold)} gold outputs exceed the display cap")
            lines.append(f"GOLD OUTPUTS ({len(gold)}): {', '.join(gold)}")
        return re.sub(r"[ \t]+", " ", "\n".join(lines))


def evidence_of(answer: dict) -> str:
    """The deterministic block of an `ask` result (it follows the last blank
    line; the retrieved-docs block comes first)."""
    return answer["evidence"].rsplit("\n\n", 1)[1]


def evidence_mismatch(expected: str, got: str) -> str | None:
    """None when equal, else the first differing line pair."""
    if expected == got:
        return None
    exp, act = expected.split("\n"), got.split("\n")
    for i in range(max(len(exp), len(act))):
        e = exp[i] if i < len(exp) else "<missing>"
        a = act[i] if i < len(act) else "<missing>"
        if e != a:
            return f"line {i + 1}: expected {e!r}, got {a!r}"
    return "trailing difference"
