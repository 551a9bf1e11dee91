"""Registry-rotation stamp tool (VERDICT r10 #1).

The driver checks only the FIRST 50 registry entries per round, so every
gate whose implementing code changed must be rotated into that prefix —
round 10 shipped 16 changed gates with a stale prefix and the driver never
re-verified them. This tool makes that mistake structurally impossible:

1. It computes a per-gate CODE FINGERPRINT: the sha256 of the gate
   function's own source plus the sources of every package function /
   class / module-level constant it (transitively) references — a static,
   function-level closure built with ``ast`` (no Spark session needed).
   The gate's DuckDB oracle SQL string is part of the fingerprint too: a
   changed oracle is a changed gate.
2. It maintains ``queries/rotation_stamp.json``: for each gate, the
   fingerprint at the LAST rotation where that gate led (sat in the
   driver-checked prefix), plus a sha256 of every package source file.
3. On re-stamp it REFUSES to proceed if any gate outside the current
   prefix has drifted from its last-led fingerprint — the fix is to move
   the gate into the prefix (or, for >capacity rounds, ``--defer`` it
   onto an explicit, visible ``pending`` queue that the next rotation
   must drain).

``tests/test_rotation_freshness.py`` asserts the stamp matches the tree,
so ANY package change fails the suite until this tool has re-validated
prefix coverage. Usage:

    python tools/rotate_registry.py            # verify + re-stamp
    python tools/rotate_registry.py --check    # verify only (what the test runs)
    python tools/rotate_registry.py --defer NAME [--defer NAME ...]
"""

from __future__ import annotations

import ast
import hashlib
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# Fingerprint ALGORITHM version: bump when the closure/fingerprint
# definition itself changes (old stamps' hashes are then incomparable —
# the stamp resets to the current tree as the baseline, which is safe
# only when the current prefix already covers the round's changes).
ALGO = 3

PKG = "m13_sparkstreaming_python_azure_spark"
PKG_DIR = os.path.join(REPO, PKG)
# env override exists ONLY for the negative test in
# tests/test_rotation_freshness.py (exercising --defer against a
# sandboxed stamp copy without touching the committed one)
STAMP_PATH = os.environ.get(
    "SPARK_GRAFT_ROTATION_STAMP",
    os.path.join(PKG_DIR, "queries", "rotation_stamp.json"),
)


def _sha(data: bytes | str) -> str:
    if isinstance(data, str):
        data = data.encode()
    return hashlib.sha256(data).hexdigest()


def package_files() -> dict[str, str]:
    """relpath → sha256 for every package source file."""
    out = {}
    for root, _dirs, files in os.walk(PKG_DIR):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                rel = os.path.relpath(p, REPO)
                with open(p, "rb") as fh:
                    out[rel] = _sha(fh.read())
    return out


class _Module:
    """Static view of one package module: its defs, module-level constant
    assignments, and import bindings (name → (module, attr))."""

    def __init__(self, modname: str, path: str) -> None:
        self.name = modname
        with open(path, encoding="utf-8") as fh:
            self.text = fh.read()
        tree = ast.parse(self.text)
        self.defs: dict[str, str] = {}
        self.assigns: dict[str, str] = {}
        self.imports: dict[str, tuple[str, str | None]] = {}
        for node in tree.body:
            seg = ast.get_source_segment(self.text, node) or ""
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                self.defs[node.name] = seg
            elif isinstance(node, ast.Assign):
                for t in node.targets:
                    if isinstance(t, ast.Name):
                        self.assigns[t.id] = seg
            elif isinstance(node, ast.AnnAssign) and isinstance(
                node.target, ast.Name
            ):
                self.assigns[node.target.id] = seg
        self._bind_imports(tree.body)

    def _bind_imports(self, body) -> None:
        for node in body:
            if isinstance(node, ast.ImportFrom) and node.module and (
                node.module.startswith(PKG)
            ):
                for a in node.names:
                    self.imports[a.asname or a.name] = (node.module, a.name)
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.startswith(PKG):
                        self.imports[a.asname or a.name] = (a.name, None)


_INLINE_FROM = re.compile(
    rf"from ({re.escape(PKG)}[.\w]*) import "
    r"(?:\(([^)]*)\)|([\w, ]+))"
)


def _inline_imports(src: str) -> dict[str, tuple[str, str]]:
    """name → (module, name) for each `from pkg.x import a, b` inside a
    def body."""
    inline: dict[str, tuple[str, str]] = {}
    for m in _INLINE_FROM.finditer(src):
        names_blob = m.group(2) or m.group(3) or ""
        for nm in re.split(r"[\s,]+", names_blob.strip()):
            if nm and nm != "as":
                inline[nm] = (m.group(1), nm)
    return inline


class Closure:
    def __init__(self) -> None:
        self.modules: dict[str, _Module] = {}

    def module(self, modname: str) -> _Module | None:
        if modname in self.modules:
            return self.modules[modname]
        path = os.path.join(REPO, modname.replace(".", os.sep) + ".py")
        if not os.path.exists(path):
            init = os.path.join(REPO, modname.replace(".", os.sep),
                                "__init__.py")
            if os.path.exists(init):
                path = init
            else:
                return None
        m = _Module(modname, path)
        self.modules[modname] = m
        return m

    def closure(self, modname: str, name: str) -> dict[str, str]:
        """{qualified name: source sha} of everything (module, name)
        statically reaches, function-level within package modules."""
        seen: dict[str, str] = {}
        self._visit(modname, name, seen)
        return seen

    def _visit(self, modname: str, name: str | None, seen: dict) -> None:
        mod = self.module(modname)
        if mod is None:
            return
        if name is None:  # whole-module import → coarse file hash
            key = f"{modname}:*"
            if key not in seen:
                seen[key] = _sha(mod.text)
            return
        src = mod.defs.get(name) or mod.assigns.get(name)
        if src is None:
            # re-exported name (e.g. package __init__) → follow its import
            if name in mod.imports:
                tgt_mod, tgt_name = mod.imports[name]
                self._visit(tgt_mod, tgt_name, seen)
            return
        key = f"{modname}:{name}"
        if key in seen:
            return
        seen[key] = _sha(src)
        inline = _inline_imports(src)
        words = set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", src))
        for w in words:
            if w == name:
                continue
            if w in inline:
                self._visit(inline[w][0], inline[w][1], seen)
            elif w in mod.imports:
                tgt_mod, tgt_name = mod.imports[w]
                self._visit(tgt_mod, tgt_name, seen)
            elif w in mod.defs or w in mod.assigns:
                self._visit(modname, w, seen)


def gate_closure(cl: Closure, gate: str, fn) -> dict[str, str]:
    """{qualified name: source sha} of everything registry entry ``gate``
    (callable ``fn``) runs: its own closure, the streaming wrapper's, and
    the lazy oracle generators."""
    from m13_sparkstreaming_python_azure_spark.queries import registry

    wrapped = getattr(fn, "__wrapped__", None)
    inner = wrapped or fn
    base = cl.closure(inner.__module__, inner.__qualname__.split(".")[0])
    if wrapped is not None:
        # _narrow_shuffle wrapper logic is code too — but hash its OWN
        # source only: running the word-scan closure on it would chase
        # the word "QUERIES" in a comment into the registry's
        # _ALL_QUERIES dict and from there into the entire package,
        # making every wrapped gate's fingerprint cover everything. The
        # engine helpers it imports in its body (the state-width rule)
        # are followed, so a change to the rule drifts every gate it
        # sizes.
        src = cl.module(registry.__name__).defs.get("_narrow_shuffle", "")
        base[f"{registry.__name__}:_narrow_shuffle~shallow"] = _sha(src)
        for tgt_mod, tgt_name in _inline_imports(src).values():
            base.update(cl.closure(tgt_mod, tgt_name))
    if gate in ("multimodal_features", "multimodal_phash_dedup"):
        # lazy oracle: the generator function is the oracle's code
        base.update(cl.closure(
            f"{PKG}.queries.llm", "multimodal_oracle_values"
        ))
    if gate == "bpe_merges":
        # ADVICE r11: before this explicit branch the lazy VALUES
        # oracle joined the fingerprint only because the gate's
        # docstring happened to mention bpe_oracle_values — a
        # docstring rewording would have silently dropped the
        # oracle side (the drift class this tool exists to catch)
        base.update(cl.closure(
            f"{PKG}.queries.analytics_ext", "bpe_oracle_values"
        ))
    return base


def gate_fingerprints() -> tuple[dict[str, str], list[str]]:
    """gate → fingerprint, plus the current prefix-50 (imports registry)."""
    from m13_sparkstreaming_python_azure_spark.queries import registry

    cl = Closure()
    fps: dict[str, str] = {}
    for gate, fn in registry.QUERIES.items():
        base = gate_closure(cl, gate, fn)
        parts = [f"{k}={v}" for k, v in sorted(base.items())]
        parts.append("oracle=" + _sha(registry.ORACLES.get(gate, "")))
        fps[gate] = _sha("\n".join(parts))
    return fps, list(registry._PRIORITY_50)


def main(argv: list[str]) -> int:
    check_only = "--check" in argv
    defer = {argv[i + 1] for i, a in enumerate(argv) if a == "--defer"}
    fps, head = gate_fingerprints()
    files = package_files()
    from m13_sparkstreaming_python_azure_spark.queries import registry

    # the seeded tail slots re-roll with every package change: name them
    print("random tail picks: " + ", ".join(head[len(registry._head):]))

    old = {}
    if os.path.exists(STAMP_PATH):
        with open(STAMP_PATH) as fh:
            old = json.load(fh)
    old_gates = old.get("gates", {})
    old_pending = set(old.get("pending", []))
    if old.get("algo") != ALGO:
        # incomparable hashes from an older fingerprint definition:
        # baseline-reset (current tree becomes "last led" for every gate)
        old_gates = {}

    stale = sorted(
        g for g in fps
        if g not in head
        and g in old_gates
        and fps[g] != old_gates[g]
        and g not in defer
    )
    if check_only:
        drift = {
            p: h for p, h in files.items() if old.get("files", {}).get(p) != h
        }
        missing_stamp = not old
        ok = not drift and not missing_stamp and old.get("head") == head
        if not ok:
            print("STALE rotation stamp — package code or the prefix "
                  "changed since the last rotation:")
            for p in sorted(drift):
                print(f"  changed: {p}")
            if old.get("head") != head:
                print("  prefix-50 differs from stamped head")
            print("fix: review the prefix, then run "
                  "python tools/rotate_registry.py")
            return 1
        print("rotation stamp fresh")
        return 0

    if stale:
        print("REFUSING to stamp — these gates' implementing code changed "
              "since they last led the driver prefix, but they are not in "
              "the current prefix-50:")
        for g in stale:
            print(f"  {g}")
        print("fix: rotate them into _head in queries/registry.py "
              "(or --defer NAME onto the visible pending queue).")
        return 1

    new_gates = dict(old_gates)
    for g in fps:
        if g in head or g not in new_gates:
            new_gates[g] = fps[g]  # gate leads now (or first stamp): record
    pending = sorted(
        (old_pending | defer) - {g for g in head if g in old_pending | defer}
    )
    drained = sorted((old_pending - set(pending)) & set(head))
    stamp = {
        "algo": ALGO,
        "head": head,
        "gates": new_gates,
        "files": files,
        "pending": pending,
    }
    with open(STAMP_PATH, "w") as fh:
        json.dump(stamp, fh, indent=0, sort_keys=True)
        fh.write("\n")
    print(f"stamped: {len(head)} leading gates refreshed, "
          f"{len(pending)} pending, {len(drained)} drained from pending")
    if pending:
        print("PENDING (changed but deferred — next rotation must drain):")
        for g in pending:
            print(f"  {g}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
