#!/usr/bin/env python3
"""List the main-source declarations that no other main-source file uses.

    python3 tools/orphans.py [repo-root]

Scans the Scala sources under `src/main` and prints two tables:

    types     each top-level `object`/`class`/`trait` (a companion pair is
              one row) that no other `src/main` file names, that its own
              file names only inside itself, and that defines no `main`
    members   each `def` in an `object`, or in a class or trait nested in
              one, that no other `src/main` file names and that its own
              file names nowhere but on its declaring line; `main`,
              `apply`/`unapply` and `override`s are skipped

Each row carries the declaration's file and line, its length in lines, and
how often `src/test` names it. A row with test references is code only
specs reach; a row with none is reached by nothing.

References are whole-word matches of the bare name in comment-stripped
Scala source. String literals count, because interpolations and reflective
class names are uses; a `META-INF/services` entry does not, because it
makes a class loadable, not used. The census is textual: a common name
(`count`, `schema`) is matched by unrelated uses and never listed, and a
member reached only through another listed member is not listed until that
one goes. Treat the output as a list of candidates to check, not a proof.
"""
import os
import re
import sys
from collections import Counter

DECL = re.compile(r"\b(object|class|trait|def|val|var|type)\s+([A-Za-z_][A-Za-z0-9_]*)")
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
SKIP_MEMBERS = {"main", "apply", "unapply"}


def strip(text, strings):
    """Blank out comments (and string literals when `strings`), keeping
    every newline so offsets still map to the same lines."""
    out = []
    i, n = 0, len(text)
    while i < n:
        if text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            out.append(" " * (j - i))
            i = j
        elif text.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if text.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(re.sub(r"[^\n]", " ", text[i:j]))
            i = j
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':
                j += 1
            seg = text[i:j]
            out.append(re.sub(r"[^\n]", " ", seg) if strings else seg)
            i = j
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            j = min(j + 1, n)
            out.append(" " * (j - i) if strings else text[i:j])
            i = j
        elif text[i] == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            j = text.find("'", i + 2) + 1 or n
            out.append(" " * (j - i) if strings else text[i:j])
            i = j
        else:
            out.append(text[i])
            i += 1
    return "".join(out)


def declarations(code):
    """Yield (kind, name, owners, start, end, modifiers) for every object,
    class, trait and def: `owners` is the chain of enclosing scopes as
    (kind, name) pairs, `start` the offset of the declaration and `end`
    that of its body's closing brace, or of the next declaration or brace
    when the body has none."""
    def closed(decl, end):
        kind, name, owners, start, mods = decl
        return kind, name, owners, start, end, mods

    events = [(m.start(), "decl", m) for m in DECL.finditer(code)]
    events += [(i, c, None) for i, c in enumerate(code) if c in "{}"]
    events.sort(key=lambda e: e[0])
    stack, pending = [], None
    for pos, what, m in events:
        if pending is not None and what != "{":
            yield closed(pending, pos)
            pending = None
        if what == "decl":
            kind, name = m.group(1), m.group(2)
            if kind in ("object", "class", "trait", "def"):
                mods = code[code.rfind("\n", 0, pos) + 1:pos]
                owners = tuple((k, nm) for k, nm, _ in stack)
                pending = (kind, name, owners, pos, mods)
        elif what == "{":
            stack.append((pending[0], pending[1], pending) if pending else ("block", "", None))
            pending = None
        elif stack:
            kind, name, decl = stack.pop()
            if decl is not None:
                yield closed(decl, pos + 1)
    if pending is not None:
        yield closed(pending, len(code))


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    main_dir = os.path.join(root, "src", "main")

    def files(d):
        for dp, _, fs in os.walk(d):
            yield from (os.path.join(dp, f) for f in sorted(fs))

    def read(path, strings=False):
        with open(path, encoding="utf-8") as f:
            return strip(f.read(), strings)

    main_words = {p: Counter(WORD.findall(read(p))) for p in files(main_dir)
                  if p.endswith(".scala")}
    test_words = Counter()
    for p in files(os.path.join(root, "src", "test")):
        if p.endswith(".scala"):
            test_words.update(WORD.findall(read(p)))

    def other_files(name, path):
        return sum(1 for p, c in main_words.items() if p != path and c[name])

    types, members = [], []
    for path in sorted(main_words):
        code = read(path, strings=True)
        rel = os.path.relpath(path, main_dir)
        decls = list(declarations(code))
        seen = set()
        mains = {owners[-1][1] for kind, name, owners, *_ in decls
                 if kind == "def" and name == "main" and len(owners) == 1}
        for kind, name, owners, start, end, mods in decls:
            line = code.count("\n", 0, start) + 1
            span = code.count("\n", start, len(code[:end].rstrip())) + 1
            if kind != "def" and not owners:
                if name in mains or other_files(name, path) or name in seen:
                    continue
                seen.add(name)
                # a name used in its own file outside the type and its
                # companion is reached from that file
                spans = [(s, e) for k, nm, o, s, e, _ in decls
                         if nm == name and not o and k != "def"]
                rest = "".join(code[a:b] for a, b in zip(
                    [0] + [e for _, e in spans], [s for s, _ in spans] + [len(code)]))
                if not re.search(rf"\b{name}\b", rest):
                    span = sum(code.count("\n", s, e) + 1 for s, e in spans)
                    types.append((rel, line, span, name, test_words[name]))
            elif (kind == "def" and owners and owners[0][0] == "object"
                  and all(k in ("object", "class", "trait") for k, _ in owners)
                  and name not in SKIP_MEMBERS and "override" not in mods
                  and other_files(name, path) == 0
                  and main_words[path][name] == 1):
                qual = ".".join(nm for _, nm in owners) + "." + name
                members.append((rel, line, span, qual, test_words[name]))

    def table(title, rows):
        print(f"{title}: {len(rows)}, {sum(r[2] for r in rows)} lines")
        print(f"  {'lines':>5} {'tests':>5}  name  (file:line)")
        for rel, line, span, name, tests in rows:
            print(f"  {span:>5} {tests:>5}  {name}  ({rel}:{line})")

    table("types", types)
    table("members", members)


if __name__ == "__main__":
    main()
