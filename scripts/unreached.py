#!/usr/bin/env python3
"""List the library members that no query, dispatcher, stream twin or main reaches.

Usage: python3 scripts/unreached.py

Every `def`, `val` and `object` that is a member of an object, class or
trait in src/main is a node. A node is reached when its name occurs, outside
its own definition, in code that is itself reached: perfbench/**/*.scala, a
template initializer, or a reached node. The entry points are reached by
definition: every `main`, `SparkEntry.entry` (the flagship smoke query),
every `override`, and every `apply` (call syntax never names it). Comments do
not count; string literals do (interpolations name code). Matching is by
name, so a common name shared by two members can hide one of them.

The script prints every public or `private[pkg]` node that is not reached
(plain `private` ones are left to the compiler's -Wunused:privates). The
declared keepers, reported but allowed, are the `graft.streaming` twins, the
`*Declarative` references that specs compare against, and
`corpusProbeOnFps`. Exits 1 if anything else is listed.
"""
import pathlib
import re
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
MAIN = ROOT / "src" / "main" / "scala"
EXTRA = [p for p in (ROOT / "perfbench").rglob("*.scala")
         if "target" not in p.relative_to(ROOT).parts]

DEF_RE = re.compile(
    r"^\s*(?:@\w+(?:\([^)]*\))?\s+)*"
    r"((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|implicit\s+|"
    r"lazy\s+|case\s+|sealed\s+|abstract\s+)*)"
    r"(def|val|var|object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)")
WORD_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def mask(src):
    """Return (code, refs): `code` blanks comments and literals, `refs`
    blanks only comments. Both keep every offset and newline."""
    code, refs = list(src), list(src)
    i, n = 0, len(src)

    def blank(buf, a, b):
        for k in range(a, b):
            if buf[k] != "\n":
                buf[k] = " "

    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            blank(code, i, j); blank(refs, i, j); i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j): depth += 1; j += 2
                elif src.startswith("*/", j): depth -= 1; j += 2
                else: j += 1
            blank(code, i, j); blank(refs, i, j); i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            blank(code, i, j); i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            blank(code, i, j + 1); i = j + 1
        elif c == "'" and re.match(r"'(\\.[^']*|[^'\\\n])'", src[i:i + 8]):
            j = src.index("'", i + 2 if src[i + 1] == "\\" else i + 1)
            blank(code, i, j + 1); i = j + 1
        else:
            i += 1
    return "".join(code), "".join(refs)


class Node:
    def __init__(self, path, pkg, kind, name, mods, line, col, depth):
        self.path, self.pkg, self.kind, self.name = path, pkg, kind, name
        self.mods, self.line, self.col, self.depth = mods, line, col, depth
        self.end = None
        self.root = ("override" in mods or name in ("main", "apply") or
                     (name == "entry" and path.name == "SparkEntry.scala"))
        self.private = re.search(r"\bprivate\s", mods + " ") is not None

    def keeper(self):
        return (self.pkg.startswith("graft.streaming") or
                self.name.endswith("Declarative") or
                self.name == "corpusProbeOnFps")


def scan(path):
    """Member nodes of one file, each with its line extent."""
    code, refs = mask(path.read_text())
    lines = code.split("\n")
    pkg = next((m.group(1) for m in
                (re.match(r"\s*package\s+([\w.]+)", l) for l in lines) if m), "")
    nodes, open_at, stack, pending = [], {}, [], False

    def close_from(depth, line):
        for d in [d for d in open_at if d >= depth]:
            open_at.pop(d).end = line

    for ln, text in enumerate(lines, 1):
        m = DEF_RE.match(text)
        if m:
            mods, kind, name = m.groups()
            depth = len(stack)
            if not stack or stack[-1] == "template":
                close_from(depth, ln - 1)
                node = Node(path, pkg, kind, name, mods, ln, m.start(3), depth)
                if kind in ("def", "val", "var", "object"):
                    nodes.append(node)
                open_at[depth] = node
            pending = kind in ("object", "class", "trait")
        for ch in text:
            if ch == "{":
                stack.append("template" if pending else "block")
                pending = False
            elif ch == "}" and stack:
                stack.pop()
                close_from(len(stack) + 1, ln)
    close_from(0, len(lines))
    return nodes, refs.split("\n")


def main():
    files = sorted(MAIN.rglob("*.scala"))
    nodes, texts = [], {}
    for f in files:
        ns, texts[f] = scan(f)
        nodes += ns
    for f in EXTRA:
        texts[f] = mask(f.read_text())[1].split("\n")
    # objects holding a main are entry points
    for n in nodes:
        if n.kind == "object" and any(
                m.name == "main" and m.path == n.path and n.line < m.line <= n.end
                for m in nodes):
            n.root = True
    by_name, def_sites = {}, set()
    for n in nodes:
        by_name.setdefault(n.name, []).append(n)
        def_sites.add((n.path, n.line, n.col))
    per_file = {}
    for n in nodes:
        per_file.setdefault(n.path, []).append(n)

    def enclosing(path, line):
        """Innermost node whose extent holds the line (None = always live)."""
        best = None
        for n in per_file.get(path, ()):
            if n.line <= line <= n.end and (best is None or n.depth > best.depth):
                best = n
        return best

    # users[n] = the nodes (None for always-live code) that name n outside n
    users = {id(n): set() for n in nodes}
    for path, lines in texts.items():
        for ln, text in enumerate(lines, 1):
            for w in WORD_RE.finditer(text):
                targets = by_name.get(w.group())
                if not targets or (path, ln, w.start()) in def_sites:
                    continue
                enc = enclosing(path, ln)
                for t in targets:
                    if not (t.path == path and t.line <= ln <= t.end):
                        users[id(t)].add(enc)
    live = {id(n) for n in nodes if n.root or n.keeper()}
    changed = True
    while changed:
        changed = False
        for n in nodes:
            if id(n) not in live and any(
                    u is None or id(u) in live for u in users[id(n)]):
                live.add(id(n)); changed = True

    listed = [n for n in nodes if not n.private and not n.root and
              not any(u is None or (id(u) in live and u is not n)
                      for u in users[id(n)])]
    bad = 0
    for n in sorted(listed, key=lambda n: (str(n.path), n.line)):
        why = "keeper" if n.keeper() else "UNREACHED"
        bad += not n.keeper()
        via = " (named only by unreached code)" if users[id(n)] else ""
        print(f"{why:9} {n.path.relative_to(ROOT)}:{n.line} "
              f"{n.kind} {n.name}{via}")
    print(f"== {len(listed)} listed, {bad} not declared keepers ==")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
