"""The package carries no code that only tests reach.

Three checks:

- ``tools/check_inventory.py`` (SURVEY §2 against the live registry)
  passes.
- A static reachability scan over ``dbeam_spark/`` finds no top-level
  function, class or assigned name outside ``ALLOWED``. A name is live
  when a root uses it, directly or through other live names. The roots
  are every ``@register``-ed query, every statement a module runs at
  import or under ``if __name__ == "__main__"`` (the ``jobs/`` CLIs), the
  ``[project.scripts]`` entry points, and everything ``tools/``,
  ``perfbench/``, ``bench.py`` and ``__spark_entry__.py`` use. Uses are
  read from the AST: names and attribute chains, resolved through each
  file's (absolute) imports. Docstrings and comments never count, and
  ``tests/`` is not a root.
- Each cross-engine idiom in ``LLM_IDIOMS`` is spelled out once in
  ``queries/llm.py``, at its shared definition.

Run ``python tests/test_inventory.py`` to print the scan's findings.
"""

from __future__ import annotations

import ast
import re
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "dbeam_spark"

# Top-level names that stay although nothing outside tests/ reaches them,
# each with the reason it stays.
ALLOWED = {
    "dbeam_spark.avro.__all__": "the package's public surface",
    "dbeam_spark.queries.__all__": "the package's public surface",
    "dbeam_spark.sources.__all__": "the package's public surface",
    "dbeam_spark.passwords.KmsDecrypter": "dbeam's KMS password decryption (SURVEY A2); library users inject it",
    "dbeam_spark.passwords._KMS_ENDPOINT": "KmsDecrypter's endpoint",
    "dbeam_spark.passwords._WS": "KmsDecrypter's ciphertext whitespace strip",
    "dbeam_spark.passwords._default_transport": "KmsDecrypter's default transport",
    "dbeam_spark.passwords._env_token": "KmsDecrypter's default token source",
    "dbeam_spark.operators.dedup._jaccard_from_inter": "the reference test_ngram_jaccard_* compares against",
    "dbeam_spark.operators.multimodal.JPEG_QUANT_LUM": "Annex K table that encode_jpeg's docstring offers",
    "dbeam_spark.operators.multimodal.JPEG_QUANT_CHROM": "Annex K table that encode_jpeg's docstring offers",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _defined_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    else:
        return []
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def _is_register(dec: ast.expr) -> bool:
    func = dec.func if isinstance(dec, ast.Call) else dec
    name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", "")
    return name == "register"


def _imports(tree: ast.AST) -> dict[str, set]:
    """Local name -> {(module, attr-or-None)} for every import in a file,
    function-level ones included."""
    table: dict[str, set] = defaultdict(set)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    table[a.asname].add((a.name, None))
                else:
                    top = a.name.split(".")[0]
                    table[top].add((top, None))
        elif isinstance(node, ast.ImportFrom):
            for a in node.names:
                table[a.asname or a.name].add((node.module, a.name))
    return table


class Scan:
    def __init__(self):
        self.trees: dict[str, ast.Module] = {}
        for path in sorted((ROOT / PKG).rglob("*.py")):
            self.trees[_module_name(path)] = ast.parse(path.read_text())
        self.aliases = {mod: _imports(tree) for mod, tree in self.trees.items()}
        # (module, name) -> the statements that define it
        self.defs: dict[tuple[str, str], list[ast.stmt]] = defaultdict(list)
        for mod, tree in self.trees.items():
            for stmt in tree.body:
                for name in _defined_names(stmt):
                    self.defs[(mod, name)].append(stmt)

    def resolve(self, mod: str, attr: str | None, seen=None) -> set:
        """Targets of ``mod.attr``: {(module, None)} for a package module,
        {(module, name)} for a top-level definition, set() for anything
        outside the package. Re-exports are followed to their source."""
        if attr is None:
            return {(mod, None)} if mod in self.trees else set()
        if f"{mod}.{attr}" in self.trees:
            return {(f"{mod}.{attr}", None)}
        if (mod, attr) in self.defs:
            return {(mod, attr)}
        seen = seen or set()
        if (mod, attr) in seen:
            return set()
        seen.add((mod, attr))
        out = set()
        for src, name in self.aliases.get(mod, {}).get(attr, ()):
            out |= self.resolve(src, name, seen)
        return out

    def uses(self, mod: str | None, node: ast.AST, aliases: dict[str, set]) -> set:
        """Package definitions that ``node`` uses, read in module ``mod``."""
        out = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                if (mod, n.id) in self.defs:
                    out.add((mod, n.id))
                for src, name in aliases.get(n.id, ()):
                    out |= self.resolve(src, name)
            elif isinstance(n, ast.Attribute):
                chain = []
                base = n
                while isinstance(base, ast.Attribute):
                    chain.append(base.attr)
                    base = base.value
                if not isinstance(base, ast.Name):
                    continue
                targets = set()
                for src, name in aliases.get(base.id, ()):
                    targets |= self.resolve(src, name)
                for attr in reversed(chain):
                    targets = {
                        t
                        for tmod, tname in targets
                        if tname is None
                        for t in self.resolve(tmod, attr)
                    }
                    out |= targets
        return {t for t in out if t[1] is not None}

    def roots(self) -> set:
        out = set()
        for mod, tree in self.trees.items():
            for stmt in tree.body:
                if isinstance(stmt, ast.FunctionDef):
                    if any(_is_register(d) for d in stmt.decorator_list):
                        out.add((mod, stmt.name))
                elif not _defined_names(stmt):
                    out |= self.uses(mod, stmt, self.aliases[mod])
        scripts = re.findall(r'=\s*"([\w.]+):(\w+)"', (ROOT / "pyproject.toml").read_text())
        for smod, fn in scripts:
            out |= self.resolve(smod, fn)
        external = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
        external += sorted((ROOT / "tools").rglob("*.py"))
        external += sorted((ROOT / "perfbench").rglob("*.py"))
        for path in external:
            tree = ast.parse(path.read_text())
            out |= self.uses(None, tree, _imports(tree))
        return out

    def unreached(self) -> list[str]:
        live = set()
        todo = list(self.roots())
        while todo:
            key = todo.pop()
            if key in live:
                continue
            live.add(key)
            mod = key[0]
            for stmt in self.defs.get(key, ()):
                todo.extend(self.uses(mod, stmt, self.aliases[mod]) - live)
        return sorted(f"{m}.{n}" for m, n in self.defs if (m, n) not in live)


def test_check_inventory_passes(monkeypatch):
    monkeypatch.chdir(ROOT)
    monkeypatch.syspath_prepend(str(ROOT / "tools"))
    import check_inventory

    assert check_inventory.main() == 0


def test_every_package_name_is_reached_outside_tests():
    unreached = Scan().unreached()
    stale = sorted(set(ALLOWED) - set(unreached))
    dead = [n for n in unreached if n not in ALLOWED]
    assert not dead, "reached only from tests/ (or not at all):\n  " + "\n  ".join(dead)
    assert not stale, f"allowlisted but reached, drop from ALLOWED: {stale}"


# Idioms of queries/llm.py that are written once, in the shared block at
# the top of the file, and never restated at a call site.
LLM_IDIOMS = (
    "string_split_regex(lower(text)",
    "F.split(F.lower(",
    "sqrt(list_inner_product(",
    "range(1, len(embedding) + 1)",
)


def test_llm_idioms_are_written_once():
    src = (ROOT / PKG / "queries" / "llm.py").read_text()
    shared = src[: src.index("@register(")]
    counts = {i: (src.count(i), shared.count(i)) for i in LLM_IDIOMS}
    assert counts == dict.fromkeys(LLM_IDIOMS, (1, 1)), counts
    unrolled = re.findall(r"\bpr[1-9][0-9]* AS \(", src)
    assert not unrolled, f"hand-unrolled PageRank CTEs: {unrolled[:3]}"


if __name__ == "__main__":
    found = [n for n in Scan().unreached() if n not in ALLOWED]
    print("\n".join(found) or "no unreached names")
    sys.exit(1 if found else 0)
