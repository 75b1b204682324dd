#!/usr/bin/env python3
"""Enforce the registry-order invariant (r4 ADVICE).

REGISTRY order IS the driver-verification schedule: the correctness gate
reads only the FIRST ``WINDOW`` (50) entries, so entries past the window go
driver-unverified that round.  That is only safe for queries that are
(a) repeatedly driver-green, (b) green in the MOST RECENT round (they get
no row next round, so their last signal must be fresh), and (c) untouched
since that green row.  This tool recomputes all three from committed
artifacts and fails loudly when a tail entry violates any of them —
closing the "a future round touches a tail query and leaves it silently
unverified" hazard.

Evidence sources:
- green history: CORRECTNESS_r*.json (committed per round by the driver);
- untouched-ness: a sha256 fingerprint of each query's function source +
  oracle SQL (inspect.getsource, so docstring edits count as touches —
  conservative), stored in tools/registry_fingerprints.json.

Run ``--update`` ONLY right after the full oracle gate passed on the
current tree (tools/check_oracle.py): it re-records every fingerprint as
"this source is what the latest green rows verified".  Fingerprints are
TRANSITIVE (r9 ADVICE): each query's hash folds in the source of every
module-level htmpark function, htmpark module, and plain-data constant
the function references (recursively, via co_names against the
function's globals), so an edit to a shared helper (_bfs_waves,
_probe_rows_upper_bound, a SQL CTE constant, warc.py, ...) flips every
dependent query's fingerprint instead of slipping past the freshness
evidence.  Conservative by design: docstring/comment edits count as
touches.

Exit 0 = order is safe; exit 1 = a tail entry needs to move into the
window (or the fingerprints need a legitimate --update).
"""
import argparse
import glob
import hashlib
import inspect
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WINDOW = 50
MIN_TAIL_GREENS = 3
# Rotation-debt bound (r5 verdict item 6): everything in today's tail
# plus every window entry still short of MIN_TAIL_GREENS after this
# round's row MUST fit into NEXT round's window, with slack left for
# next round's new + changed queries.  Registry growth that violates
# this pushes the rotation period past every-other-round, silently
# aging tail evidence.
ROTATION_SLACK = 8
FPRINT_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "registry_fingerprints.json")


def _const_repr(v):
    """Deterministic repr for an IMMUTABLE plain-data constant, else
    None.  Mutable containers (list/set/dict) are deliberately
    excluded (r10 review): a session store like _SESSION_MEMO hashes
    differently between an empty-cache fresh process and a post-gate
    in-process --update (filled caches hold DataFrames, whose dicts
    used to silently drop the fragment), making fingerprints
    nondeterministic and voiding the replica manifest's vouching.
    Mutable module globals hash by their ASSIGNMENT SOURCE instead
    (_module_assign_src) — source-stable across processes, and a
    content edit still flips the hash."""
    import re as _re
    if isinstance(v, (str, bytes, int, float, bool, type(None))):
        return repr(v)
    if isinstance(v, _re.Pattern):
        return f"re:{v.pattern!r}:{v.flags}"
    if isinstance(v, tuple):
        parts = [_const_repr(x) for x in v]
        return None if None in parts else f"({','.join(parts)})"
    if isinstance(v, frozenset):
        parts = sorted(_const_repr(x) or "?" for x in v)
        return None if "?" in parts else "{" + ",".join(parts) + "}"
    return None


_MOD_AST_CACHE: dict = {}


def _module_src_tree(mod):
    """(source, ast) of a module, cached; None when unsourceable."""
    key = getattr(mod, "__name__", None)
    if key is None:
        return None
    if key not in _MOD_AST_CACHE:
        import ast
        try:
            src = inspect.getsource(mod)
            _MOD_AST_CACHE[key] = (src, ast.parse(src))
        except (OSError, SyntaxError, TypeError):
            _MOD_AST_CACHE[key] = None
    return _MOD_AST_CACHE[key]


def _iter_module_stmts(body):
    """Module-scope statements, recursing through statement containers
    (if/try/for/while/with) but NOT into function/class bodies — the
    binding sites that can create a module global."""
    import ast
    for node in body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            continue
        yield node
        for fld in ("body", "orelse", "finalbody"):
            sub = getattr(node, fld, None)
            if isinstance(sub, list):
                yield from _iter_module_stmts(sub)
        for h in getattr(node, "handlers", []) or []:
            yield from _iter_module_stmts(h.body)


def _target_names(tgt):
    import ast
    if isinstance(tgt, ast.Name):
        yield tgt.id
    elif isinstance(tgt, (ast.Tuple, ast.List)):
        for e in tgt.elts:
            yield from _target_names(e)
    elif isinstance(tgt, ast.Starred):
        yield from _target_names(tgt.value)


def _module_assign_src(mod, name):
    """Source text of every module-scope statement binding ``name`` in
    ``mod`` — the process-independent hash fragment for mutable module
    globals (caches, list/dict constants): stable however the object
    is mutated at runtime, flipped by any edit to the binding.  Covers
    plain/annotated/augmented assignment, tuple-unpacking targets,
    bindings nested in module-level if/try blocks, and import
    statements that bind the name (r10 review: Name-only top-level
    Assign missed all of these, leaving such globals permanently
    '<opaque>')."""
    import ast
    ent = _module_src_tree(mod)
    if ent is None:
        return None
    src, tree = ent
    segs = []
    for node in _iter_module_stmts(tree.body):
        bound = []
        if isinstance(node, ast.Assign):
            for tgt in node.targets:
                bound.extend(_target_names(tgt))
        elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
            bound.extend(_target_names(node.target))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            bound.extend(a.asname or a.name.split(".")[0]
                         for a in node.names)
        if name in bound:
            segs.append(ast.get_source_segment(src, node) or "")
    return "\n".join(segs) or None


def _owner_assign_src(v, name):
    """Cross-module fallback for a mutable global imported FROM another
    htmpark module (``from .entities import X`` binds X here, but its
    assignment lives there): find the htmpark module whose attribute
    IS this object and hash that module's binding source."""
    owners = sorted(
        m for m, mod in sys.modules.items()
        if m.startswith("htmpark") and mod is not None
        and getattr(mod, name, None) is v)
    for m in owners:
        seg = _module_assign_src(sys.modules[m], name)
        if seg is not None:
            return seg
    return None


def _htmpark_import_targets(tree, pkg):
    """(module_name, attr_or_None) for every htmpark import anywhere in
    ``tree`` (ast.walk — module top level AND inside function bodies),
    with relative imports resolved against containing package ``pkg``.
    ImportFrom names are returned as attrs because ``from . import x``
    / ``from .m import f`` may name a submodule OR a function/constant
    — _fold_target disambiguates at resolution time."""
    import ast
    out = set()
    pkg_parts = pkg.split(".") if pkg else []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            if node.level:
                base = ".".join(pkg_parts[:len(pkg_parts) - node.level + 1])
            else:
                base = ""
            m = ".".join(p for p in (base, node.module or "") if p)
            if m.startswith("htmpark"):
                out.add((m, None))
                out.update((m, a.name) for a in node.names
                           if a.name != "*")
        elif isinstance(node, ast.Import):
            out.update((a.name, None) for a in node.names
                       if a.name.startswith("htmpark"))
    return out


def _containing_pkg(modname, is_pkg):
    return modname if is_pkg else modname.rsplit(".", 1)[0]


def _fold_module(v, seen, frags, skip):
    """Fold a module's full source, then recurse into every htmpark
    module IT imports (r10 review: the closure used to stop one hop in
    — sitemap.py folded as text, but its `from . import sax` never
    reached parser.py, so a parser edit left web_sitemap_coverage's
    fingerprint unchanged).  ``skip`` modules (the fingerprinted
    query's own module) are never folded as text: their functions are
    hashed per-function and their constants by assignment source, so a
    text fold would couple every query to every other."""
    if id(v) in seen:
        return
    seen.add(id(v))
    name = getattr(v, "__name__", "?")
    if name in skip:
        return
    ent = _module_src_tree(v)
    if ent is None:
        frags.append(f"<mod {name}:unsourceable>")
        return
    src, tree = ent
    frags.append(f"<mod {name}>" + src)
    pkg = _containing_pkg(name, hasattr(v, "__path__"))
    for m, attr in sorted(_htmpark_import_targets(tree, pkg),
                          key=lambda x: (x[0], x[1] or "")):
        _fold_target(m, attr, seen, frags, skip)


_IMPORT_PROBE: dict = {}


def _probe_import(name):
    """importlib.import_module with a negative-result memo — failed
    imports are not cached by Python, and _fold_target probes
    '{mod}.{attr}' for every from-imported FUNCTION name too, so an
    unmemoized checker run pays thousands of filesystem-walking
    negative probes (r10 review)."""
    import importlib
    if name not in _IMPORT_PROBE:
        try:
            _IMPORT_PROBE[name] = importlib.import_module(name)
        except ImportError:
            _IMPORT_PROBE[name] = None
    return _IMPORT_PROBE[name]


def _fold_target(modname, attr, seen, frags, skip):
    """Resolve an import target to a module (fold its source +
    closure), an htmpark function (fold its source + dependency
    fragments), or a constant (immutable repr / assignment source)."""
    import types

    if attr is not None:
        sub = _probe_import(f"{modname}.{attr}")
        if sub is not None:
            _fold_module(sub, seen, frags, skip)
            return
    mod = _probe_import(modname)
    if mod is None:
        frags.append(f"<mod {modname}:unimportable>")
        return
    _fold_module(mod, seen, frags, skip)
    if attr is None:
        return
    v = getattr(mod, attr, None)
    if v is None or id(v) in seen:
        return
    if (isinstance(v, types.FunctionType)
            and getattr(v, "__module__", "").startswith("htmpark")):
        seen.add(id(v))
        try:
            frags.append(f"<fn {attr}>" + inspect.getsource(v))
        except (OSError, TypeError):
            frags.append(f"<fn {attr}:unsourceable>")
        frags.extend(_dep_fragments(v, seen, skip))
    elif modname in skip and not isinstance(v, types.ModuleType):
        # constant imported FROM a skipped module: its assignment
        # source is not covered by any text fold, hash it directly
        seen.add(id(v))
        r = _const_repr(v)
        if r is None:
            r = _module_assign_src(sys.modules.get(modname), attr)
        if r is None:
            r = _owner_assign_src(v, attr)
        frags.append(f"<const {attr}>" + (r if r is not None
                                          else "<opaque>"))


def _dep_fragments(fn, seen, skip=frozenset()):
    """Source/value fragments of every module-level name ``fn``
    transitively references (its own co_names plus those of nested
    lambdas/comprehensions), resolved against the function's globals:
    htmpark functions recurse, htmpark modules fold their whole source
    plus their own htmpark import closure (conservative — any edit to
    warc.py flips every warc query, a parser.py edit flips everything
    that parses), immutable constants fold their repr, and mutable
    module globals fold their top-level ASSIGNMENT SOURCE (process-
    independent: a session cache hashes the same empty or filled).
    Function-LOCAL imports (``from .job import doc_signals`` binds a
    local, invisible to co_names) are caught by an AST scan of the
    function source.  ``seen`` is keyed by object id so shared helpers
    hash once per fingerprint; ``skip`` names modules never folded as
    text (see _fold_module)."""
    import ast
    import textwrap
    import types

    frags = []
    names = set()
    stack = [fn.__code__]
    while stack:
        c = stack.pop()
        names.update(c.co_names)
        names.update(c.co_freevars)
        for k in c.co_consts:
            if isinstance(k, types.CodeType):
                stack.append(k)
    g = getattr(fn, "__globals__", {})
    fn_mod = sys.modules.get(getattr(fn, "__module__", ""), None)
    for n in sorted(names):
        if n not in g:
            continue
        v = g[n]
        if id(v) in seen:
            continue
        if (isinstance(v, types.FunctionType)
                and getattr(v, "__module__", "").startswith("htmpark")):
            seen.add(id(v))
            try:
                frags.append(f"<fn {n}>" + inspect.getsource(v))
            except (OSError, TypeError):
                frags.append(f"<fn {n}:unsourceable>")
            frags.extend(_dep_fragments(v, seen, skip))
        elif (isinstance(v, types.ModuleType)
                and getattr(v, "__name__", "").startswith("htmpark")):
            _fold_module(v, seen, frags, skip)
        else:
            seen.add(id(v))
            r = _const_repr(v)
            if r is None:
                r = _module_assign_src(fn_mod, n)
            if r is None:
                r = _owner_assign_src(v, n)
            if r is not None:
                frags.append(f"<const {n}>" + r)
            elif isinstance(v, (list, set, dict)):
                frags.append(f"<const {n}:opaque>")
    try:
        tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    except (OSError, SyntaxError, TypeError):
        tree = None
    if tree is not None:
        pkg = _containing_pkg(getattr(fn, "__module__", ""), False)
        for m, attr in sorted(_htmpark_import_targets(tree, pkg),
                              key=lambda x: (x[0], x[1] or "")):
            _fold_target(m, attr, seen, frags, skip)
    return frags


def fingerprint(fn, sql) -> str:
    skip = {getattr(fn, "__module__", "")}
    h = hashlib.sha256(inspect.getsource(fn).encode())
    for frag in _dep_fragments(fn, {id(fn)}, frozenset(skip)):
        h.update(frag.encode())
    if sql is not None:
        h.update(inspect.getsource(sql).encode() if callable(sql)
                 else sql.encode())
        if callable(sql):
            skip.add(getattr(sql, "__module__", ""))
            for frag in _dep_fragments(sql, {id(sql)}, frozenset(skip)):
                h.update(frag.encode())
    return h.hexdigest()


REPLICA_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "replica_manifest.json")


def load_replica():
    return (json.load(open(REPLICA_PATH))
            if os.path.exists(REPLICA_PATH) else None)


# a replica run can only vouch for the tail if it ran at the driver's
# own gate scale or above — a bare check_oracle.py run defaults to
# sf0.001, where a scale-local accident (tie pattern, empty group)
# could green a query the sf0.01 driver gate would catch
REPLICA_MIN_SF = 0.01


def replica_scale_ok(sf_base) -> bool:
    """True when an ``sfX`` directory basename is at the driver gate
    scale or above — NUMERIC, so a stronger-than-gate run (sf1, sf10)
    also counts as evidence (r9 review: exact tuple membership refused
    above-gate runs with a misleading 'below gate scale' message)."""
    m = re.fullmatch(r"sf([0-9.]+)", sf_base or "")
    try:
        return m is not None and float(m.group(1)) >= REPLICA_MIN_SF
    except ValueError:
        return False


def replica_fresh(replica, latest, name, current_fp):
    """True when a full-registry replica run vouches for this entry.

    Fresh evidence means: the manifest was recorded by a 100%-green
    tools/check_oracle.py full run (a) while the current latest driver
    CORRECTNESS file was already on disk (so the replica is at least as
    recent as the driver signal), (b) on exactly this query source
    (fingerprint equality, same hash the --update path records), and
    (c) at the driver's gate scale or above (replica_scale_ok).
    """
    return (replica is not None
            and replica.get("latest_driver") == latest
            and replica_scale_ok(replica.get("sf"))
            and replica.get("queries", {}).get(name) == current_fp)


def correctness_files(repo_root):
    """CORRECTNESS_r*.json paths sorted by NUMERIC round — the shared
    helper for both this tool and check_oracle.py (r8 ADVICE): a plain
    lexicographic max mis-sorts once rounds outgrow the zero padding
    (r100 < r99) or the padding drifts (r8 vs r08), which would make
    freshness checks compare against the wrong driver file."""
    def round_no(path):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", os.path.basename(path))
        return int(m.group(1)) if m else -1
    return sorted(glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json")),
                  key=round_no)


def latest_correctness(repo_root):
    """Basename of the numerically-latest driver CORRECTNESS file."""
    files = correctness_files(repo_root)
    return os.path.basename(files[-1]) if files else None


def green_history(repo_root):
    """{name: [(round_file, green_bool), ...]} from CORRECTNESS_r*.json."""
    hist = {}
    for f in correctness_files(repo_root):
        for name, row in json.load(open(f)).items():
            ok = row.get("err") is None and all(
                v for k, v in row.items()
                if k.endswith("_match") and v is not None)
            hist.setdefault(name, []).append((os.path.basename(f), ok))
    return hist


def evaluate(registry, current, hist, latest, stored, replica):
    """All order-safety problems for the tree, judging tail freshness
    against ``latest`` (a CORRECTNESS basename, or None).  Pure so the
    ROTATION-PENDING path in main() can re-judge the same tree as-of
    the previous driver file, and the tests can exercise both states
    without a subprocess."""
    problems = []
    for pos, name in enumerate(registry, start=1):
        if pos <= WINDOW:
            continue
        rounds = hist.get(name, [])
        greens = sum(ok for _, ok in rounds)
        if greens < MIN_TAIL_GREENS:
            problems.append(
                f"pos {pos} {name}: only {greens} driver-green rounds "
                f"(tail needs >= {MIN_TAIL_GREENS})")
        fresh = [ok for f, ok in rounds if f == latest]
        if latest and not (fresh and fresh[0]) and not replica_fresh(
                replica, latest, name, current[name]):
            problems.append(
                f"pos {pos} {name}: not green in {latest} (and no "
                f"fingerprint-matched replica-manifest row) — a tail entry "
                f"gets no driver row next round, so its last signal must "
                f"be fresh")
        if name not in stored:
            problems.append(f"pos {pos} {name}: no recorded fingerprint "
                            f"(run --update after a green gate)")
        elif stored[name] != current[name]:
            problems.append(
                f"pos {pos} {name}: source/oracle changed since last "
                f"verification — move it into the first {WINDOW} entries")
    # rotation-debt bound: project next round's forced window occupancy.
    # Deliberately NO credit for the upcoming round's driver row — a red
    # row would leave the entry immature (and a red row also forces a
    # window seat regardless of green count), so an optimistic "+1"
    # projection under-counts exactly when things go wrong.
    tail_count = max(0, len(registry) - WINDOW)
    immature = sum(
        1 for pos, name in enumerate(registry, start=1)
        if pos <= WINDOW
        and sum(ok for _, ok in hist.get(name, [])) < MIN_TAIL_GREENS)
    forced_next = tail_count + immature
    if forced_next > WINDOW - ROTATION_SLACK:
        problems.append(
            f"rotation debt: next round must window {tail_count} rotated "
            f"tail entries + {immature} still-immature entries = "
            f"{forced_next} > {WINDOW - ROTATION_SLACK} "
            f"(WINDOW - ROTATION_SLACK) — stop adding queries or split "
            f"a stable annex (COVERAGE.md policy)")
    return problems, tail_count, forced_next


def _untracked(repo_root, basename):
    """True when ``basename`` exists in the repo root but git does not
    track it — the signature of a driver artifact dropped after the
    last builder commit.  Conservative on every ambiguous state (no
    repo, no git, or the file is GITIGNORED — an ignored artifact
    would make 'pending' a permanent skip because the untracked ->
    tracked transition could never happen): report TRACKED, keeping
    the strict exit-1 path."""
    import subprocess

    def _git(*args):
        return subprocess.run(
            ["git", "-C", repo_root, *args],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        ).returncode

    try:
        if _git("rev-parse", "--git-dir") != 0:
            return False  # not a repo: cannot tell, stay strict
        if _git("check-ignore", "-q", basename) == 0:
            return False  # ignored: committing can never flip it, stay strict
        return _git("ls-files", "--error-unmatch", basename) != 0
    except OSError:
        return False


def all_rows_green(path):
    """True when every row of a CORRECTNESS file is green (err is None
    and every *_match that is present holds) — a red row anywhere is a
    gate failure the next builder session must SEE, so it blocks the
    ROTATION-PENDING downgrade and keeps the strict exit-1 path.
    Unreadable/malformed files report False (stay strict)."""
    try:
        rows = json.load(open(path))
        return bool(rows) and all(
            row.get("err") is None and all(
                v for k, v in row.items()
                if k.endswith("_match") and v is not None)
            for row in rows.values())
    except (OSError, ValueError, AttributeError):
        return False


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--update", action="store_true",
                    help="re-record fingerprints (run ONLY after the full "
                         "oracle gate passed on this tree)")
    args = ap.parse_args()

    from htmpark.queries import REGISTRY

    current = {name: fingerprint(fn, sql)
               for name, (fn, sql) in REGISTRY.items()}
    if args.update:
        json.dump(current, open(FPRINT_PATH, "w"), indent=1, sort_keys=True)
        print(f"recorded {len(current)} fingerprints -> {FPRINT_PATH}")
        return

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    hist = green_history(repo_root)
    latest = latest_correctness(repo_root)
    stored = (json.load(open(FPRINT_PATH))
              if os.path.exists(FPRINT_PATH) else {})
    replica = load_replica()

    problems, tail_count, forced_next = evaluate(
        REGISTRY, current, hist, latest, stored, replica)
    if problems:
        # Distinguish ROTATION PENDING from genuine unsafety (r10
        # verdict "What's wrong #1": the driver drops CORRECTNESS_r{N}
        # AFTER the builder's final commit, so the manifest cannot yet
        # vouch against it — red pytest at judging time, by design but
        # noisy).  Pending means ALL of: the newest CORRECTNESS file is
        # untracked in git (no builder session has acted on it yet; a
        # gitignored file counts as tracked — see _untracked), every
        # row in it is GREEN (a red driver row must be seen, not
        # skipped past), and the tree evaluates fully safe as of the
        # previous driver file with the untracked rows excluded from
        # the history (i.e. nothing was wrong at the last builder
        # commit; the only delta is the driver's own drop).  Pending
        # exits 2 — the
        # pytest wrapper reports it as an explicit skip whose message
        # IS the round-opening instruction; any other failure stays
        # exit 1.  The hard-fail path is untouched for the real hazard:
        # the moment a builder commits the new CORRECTNESS file without
        # re-recording the manifest (the r10 ADVICE case), the file is
        # tracked and the checker is red.
        if (latest and _untracked(repo_root, latest)
                and all_rows_green(os.path.join(repo_root, latest))):
            prev_files = correctness_files(repo_root)[:-1]
            prev = (os.path.basename(prev_files[-1])
                    if prev_files else None)
            # re-judge strictly as-of the last builder commit: rows from
            # the untracked file must not inflate green counts or shrink
            # the immaturity/debt tallies (they are exactly the evidence
            # that did not exist yet)
            hist_prev = {name: [(f, ok) for f, ok in rounds if f != latest]
                         for name, rounds in hist.items()}
            prev_problems, _, _ = evaluate(
                REGISTRY, current, hist_prev, prev, stored, replica)
            if not prev_problems:
                print(f"ROTATION PENDING: the driver dropped {latest} "
                      f"after the last builder commit (it is untracked); "
                      f"the tree is fully safe as of {prev}.  Round-opening "
                      f"step 1: rotate the registry window, run the full "
                      f"gate (tools/check_oracle.py, records the manifest), "
                      f"then --update, then commit {latest} TOGETHER with "
                      f"the refreshed manifest/fingerprints.")
                sys.exit(2)
        print("REGISTRY ORDER UNSAFE:")
        for p in problems:
            print("  " + p)
        sys.exit(1)
    print(f"registry order OK: {len(REGISTRY)} entries, "
          f"{tail_count} tail entries all "
          f">={MIN_TAIL_GREENS}x green, fresh in {latest}, untouched; "
          f"rotation debt {forced_next}/{WINDOW - ROTATION_SLACK}")


if __name__ == "__main__":
    main()
