"""Auto-derive the driver-window rotation queue (VERDICT r06 #7).

The round driver hash-checks only the first 50 registry entries
(DRIVER_WINDOW); every other query is verified by the repo's own
oracle suite but has never been witnessed by the driver. This tool
computes the NEVER-driver-verified set straight from the recorded
CORRECTNESS_r*.json files — no hand-maintained comment to drift
(r06's said ~35 when the true count was 52).

Usage:  python tools/rotation_queue.py          # print the queue
Import: never_driver_verified() → (oracle_backed, rows_only) lists.
"""

from __future__ import annotations

import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def driver_verified(repo_root: str = REPO) -> set[str]:
    """Names that appeared err-free in ANY round's correctness file."""
    seen: set[str] = set()
    for f in sorted(glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json"))):
        try:
            data = json.load(open(f))
        except (OSError, ValueError):
            continue
        for name, res in data.items():
            if isinstance(res, dict) and not res.get("err"):
                seen.add(name)
    return seen


def never_driver_verified(repo_root: str = REPO) -> tuple[list[str], list[str]]:
    """(oracle_backed, rows_only) registry names no driver round has
    ever witnessed, in registry order."""
    sys.path.insert(0, repo_root)
    from walden_spark.registry import load_all

    reg = load_all()
    seen = driver_verified(repo_root)
    oracle_backed = [n for n, q in reg.items() if n not in seen and q.oracle]
    rows_only = [n for n, q in reg.items() if n not in seen and not q.oracle]
    return oracle_backed, rows_only


def latest_full_green(repo_root: str = REPO) -> dict[str, int]:
    """name → newest round with a FULL-green (rows+schema+hash) driver
    witness, replayed from every CORRECTNESS_r*.json. Names with no
    full-green witness ever are absent."""
    latest: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json"))):
        rnd = int(f.rsplit("_r", 1)[1].split(".")[0])
        try:
            data = json.load(open(f))
        except (OSError, ValueError):
            continue
        for name, res in data.items():
            if (
                isinstance(res, dict)
                and not res.get("err")
                and res.get("rows_match") is True
                and res.get("schema_match") is True
                and res.get("hash_match") is True
            ):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def stalest_witness(repo_root: str = REPO) -> tuple[int, list[str]]:
    """(round, names) of the stalest full-green driver witness across
    the registry — the DERIVED claim the round notes must quote
    (VERDICT r13 "What's wrong" #1: the r13 notes hand-wrote "stalest
    is r06" while win_groups_frame_partitioned's latest witness was
    r05). Never-witnessed names count as round 0."""
    sys.path.insert(0, repo_root)
    from walden_spark.registry import load_all

    latest = latest_full_green(repo_root)
    reg = load_all()
    by_round: dict[int, list[str]] = {}
    for n in reg:
        by_round.setdefault(latest.get(n, 0), []).append(n)
    stalest = min(by_round)
    return stalest, by_round[stalest]


def _def_sources(src: str) -> dict[str, str]:
    """name → source segment for every MODULE-LEVEL function and class
    METHOD in ``src``. Defs nested inside functions are deliberately
    excluded: their source is part of the enclosing def's segment (so
    edits are still detected there), and their often-generic names
    (``close``, ``fill``) would collide with library attribute calls
    everywhere."""
    import ast

    out: dict[str, str] = {}
    try:
        tree = ast.parse(src)
    except SyntaxError:
        return out
    nodes = list(tree.body)
    for n in tree.body:
        if isinstance(n, ast.ClassDef):
            nodes.extend(n.body)
    for node in nodes:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            out[node.name] = ast.get_source_segment(src, node) or ""
    return out


def round_boundary_ref(repo_root: str = REPO) -> str | None:
    """The previous round's handover commit: the newest commit touching
    any CORRECTNESS_r*.json (the driver lands those at round end)."""
    import subprocess

    res = subprocess.run(
        ["git", "log", "-1", "--format=%H", "--", "CORRECTNESS_r*.json"],
        cwd=repo_root,
        capture_output=True,
        text=True,
    )
    ref = res.stdout.strip()
    return ref or None


def changed_def_names(repo_root: str = REPO, ref: str | None = None) -> set[str]:
    """Function/method names whose SOURCE changed (or that were added/
    removed) in walden_spark/ between ``ref`` (default: the previous
    round's handover commit) and the working tree."""
    import subprocess

    ref = ref or round_boundary_ref(repo_root)
    if ref is None:
        return set()
    res = subprocess.run(
        ["git", "diff", "--name-only", ref, "--", "walden_spark"],
        cwd=repo_root,
        capture_output=True,
        text=True,
    )
    if res.returncode != 0:
        # a failed diff must not read as "nothing changed"
        raise RuntimeError(f"git diff against {ref} failed: {res.stderr.strip()}")
    changed: set[tuple[str, str]] = set()
    for f in res.stdout.splitlines():
        if not f.endswith(".py"):
            continue
        mod = f[:-3].replace("/", ".")
        show = subprocess.run(
            ["git", "show", f"{ref}:{f}"], cwd=repo_root, capture_output=True, text=True
        )
        old_defs = _def_sources(show.stdout if show.returncode == 0 else "")
        fp = os.path.join(repo_root, f)
        new_defs = _def_sources(open(fp).read() if os.path.exists(fp) else "")
        for name, src in new_defs.items():
            if old_defs.get(name) != src:
                changed.add((mod, name))
        changed |= {(mod, name) for name in set(old_defs) - set(new_defs)}
    return changed


def body_changed_queries(
    repo_root: str = REPO, ref: str | None = None
) -> dict[str, list[str]]:
    """Registry queries whose EXECUTION may have changed since ``ref``:
    the query fn's transitive reference closure (ast.Name ids +
    ast.Attribute attrs, restricted to names that are defs somewhere in
    walden_spark/) intersects :func:`changed_def_names`. Returns
    {query: sorted list of changed defs that implicate it}.

    Best-effort TRIPWIRE, deliberately over-approximate WITHIN a
    module's import reach: a reference (ast.Name id / ast.Attribute
    attr) resolves to a def of that name in the referencing module
    itself or in any walden_spark module it imports — never further,
    so one popular name cannot hub the whole package together (the
    name-global version implicated 187 of 328 queries through
    ``read_changes``). Module-level CONSTANT changes are invisible to
    it. The curated ``registry.DRIVER_WINDOW_BODY_CHANGED`` is the
    authority; the test asserts derived ⊆ curated ⊆ window (VERDICT
    r14 #1: body changed this round ⇒ in next round's driver window,
    staleness second)."""
    import ast

    sys.path.insert(0, repo_root)
    from walden_spark.registry import load_all

    reg = load_all()
    changed = changed_def_names(repo_root, ref)
    if not changed:
        return {}

    # Per-module: defs, their raw references, and imported pkg modules.
    pkg = os.path.join(repo_root, "walden_spark")
    defs_by_mod: dict[str, set[str]] = {}
    raw_refs: dict[tuple[str, str], set[str]] = {}
    imports_by_mod: dict[str, set[str]] = {}
    for dirpath, _dirs, files in os.walk(pkg):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            fpath = os.path.join(dirpath, fname)
            mod = os.path.relpath(fpath, repo_root)[:-3].replace(os.sep, ".")
            try:
                tree = ast.parse(open(fpath).read())
            except SyntaxError:
                continue
            imps: set[str] = set()
            for node in ast.walk(tree):
                if isinstance(node, ast.Import):
                    imps.update(
                        a.name for a in node.names if a.name.startswith("walden_spark")
                    )
                elif isinstance(node, ast.ImportFrom) and node.module:
                    m = ("." * node.level) + node.module
                    if node.level:  # relative: resolve against this module
                        base = mod.rsplit(".", node.level)[0]
                        m = f"{base}.{node.module}"
                    if m.startswith("walden_spark"):
                        imps.add(m)
                elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    defs_by_mod.setdefault(mod, set()).add(node.name)
                    names: set[str] = set()
                    for sub in ast.walk(node):
                        if isinstance(sub, ast.Name):
                            names.add(sub.id)
                        elif isinstance(sub, ast.Attribute):
                            names.add(sub.attr)
                    raw_refs.setdefault((mod, node.name), set()).update(names)
            imports_by_mod[mod] = imps

    def resolve(mod: str, name: str) -> list[tuple[str, str]]:
        return [
            (tm, name)
            for tm in (mod, *imports_by_mod.get(mod, ()))
            if name in defs_by_mod.get(tm, ())
        ]

    def closure(start: tuple[str, str]) -> set[tuple[str, str]]:
        seen = {start}
        frontier = [start]
        while frontier:
            mod, name = frontier.pop()
            for ref in raw_refs.get((mod, name), ()):
                for nxt in resolve(mod, ref):
                    if nxt not in seen:
                        seen.add(nxt)
                        frontier.append(nxt)
        return seen

    out: dict[str, list[str]] = {}
    for qname, q in reg.items():
        hits = closure((q.fn.__module__, q.fn.__name__)) & changed
        if hits:
            out[qname] = sorted(f"{m}.{n}" for m, n in hits)
    return out


def window_guard_violations(
    window, window_round: int, repo_root: str = REPO, body_changed=()
) -> list[str]:
    """Three-state rotation drift guard (VERDICT r06 #7 / r07 / r08 #2),
    keyed on ``window_round`` vs the newest CORRECTNESS_r*.json round.
    Returns a list of human-readable violations (empty = green):

    * window round > newest file round (mid-round, window rotated):
      PRIORITY ORDER (VERDICT r14 #1 — body changed first, staleness
      second): (1) every ``body_changed`` name must be in the window;
      (2) the window must hold at least min(37, len(queue)) of the
      never-driver-verified oracle-backed names — the r06 tripwire;
      (3) every remaining FREE slot (not body-changed, not
      never-verified) must either drain the stalest-witness tail or be
      the window's SOLE representative of its registry category (a
      family-coverage pick) — a free slot spent on a fresh name in an
      already-covered family while stale names queue is drift.
    * window round == newest file round (handover boundary: the driver
      just landed THIS window's results): require the window FULLY
      green in its own round's file — ``rows_match and schema_match
      and hash_match`` all true, not merely err-free (the r08 arm
      accepted a hash-mismatched entry, the exact failure the guard
      exists to catch — VERDICT r08 #2).
    * window round < newest file round: more than one rotation behind —
      hard fail, rotate now.
    """
    rounds = {}
    for f in sorted(glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json"))):
        rounds[int(f.rsplit("_r", 1)[1].split(".")[0])] = f
    if not rounds:
        return []
    newest = max(rounds)

    if window_round < newest:
        return [
            f"DRIVER_WINDOW was cut for round {window_round} but "
            f"CORRECTNESS_r{newest:02d}.json exists — the window is more "
            "than one rotation behind; regenerate via "
            "python tools/rotation_queue.py"
        ]
    if window_round > newest:
        missing_bc = [n for n in body_changed if n not in window]
        if missing_bc:
            return [
                "body-changed queries missing from DRIVER_WINDOW "
                f"(VERDICT r14 #1: body changed this round ⇒ in next "
                f"round's window): {missing_bc}"
            ]
        oracle_backed, _rows_only = never_driver_verified(repo_root)
        in_window = [n for n in oracle_backed if n in window]
        if len(in_window) < min(37, len(oracle_backed)):
            return [
                f"DRIVER_WINDOW rotates only {len(in_window)} of "
                f"{len(oracle_backed)} never-driver-verified oracle-backed "
                "names; regenerate via python tools/rotation_queue.py"
            ]
        # Drain-the-tail arm (VERDICT r13 #2, reworked for the r15
        # body-changed-first policy): with stale names still queued,
        # every FREE window slot must either be a stale-tail name or
        # the sole window representative of its category.
        stale_round, stale_names = stalest_witness(repo_root)
        undrained = [
            n for n in stale_names if n not in window and n not in body_changed
        ]
        if stale_round > 0 and undrained:
            sys.path.insert(0, repo_root)
            from collections import Counter

            from walden_spark.registry import load_all

            reg = load_all()
            cat_counts = Counter(reg[n].category for n in window if n in reg)
            offenders = [
                n
                for n in window
                if n not in body_changed
                and n not in in_window
                and n not in stale_names
                and n in reg
                and cat_counts[reg[n].category] > 1
            ]
            if offenders:
                return [
                    f"DRIVER_WINDOW (cut for r{window_round}) spends free "
                    f"slots on {offenders} (already-covered families) while "
                    f"the r{stale_round:02d} stale tail queues: {undrained}"
                ]
        return []

    # Boundary: this window's own results just landed. Full green only.
    data = json.load(open(rounds[newest]))
    not_green = [
        n
        for n in window
        if not (
            isinstance(data.get(n), dict)
            and not data[n].get("err")
            and data[n].get("rows_match") is True
            and data[n].get("schema_match") is True
            and data[n].get("hash_match") is True
        )
    ]
    if not_green:
        return [
            f"window round {window_round} results landed but these window "
            f"queries aren't FULLY green (rows+schema+hash) in "
            f"CORRECTNESS_r{newest:02d}.json: {not_green}"
        ]
    return []


if __name__ == "__main__":
    ob, ro = never_driver_verified()
    print(f"# never driver-verified: {len(ob)} oracle-backed, {len(ro)} rows-only")
    print("# oracle-backed (rotate these into DRIVER_WINDOW first):")
    for n in ob:
        print(f"  {n}")
    print("# rows-only (weaker driver check by design):")
    for n in ro:
        print(f"  {n}")
