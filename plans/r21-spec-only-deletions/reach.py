#!/usr/bin/env python3
"""Reachability scan over the main sources.

Roots: every `QuerySpec` body (`queries/`), `expressions/` (registered as
a session extension), the driver-contract registry `SparkEntry`, and every
object with a `main`. From there a top-level class or trait is reached when
a reached body names it, and a member of a top-level object (def, val,
class, object or type) when a reached body names it as `Obj.name`, or as a
bare `name` inside its own object (`Obj(...)` for `apply`) or under an `import Obj._` /
`import Obj.{name}`. A reached class brings its whole body. Comments are
stripped first, so a scaladoc mention is not a call.

Prints each unreached unit with the test files that name it. A word match
over-approximates reachability (a local of the same name counts), so the
list is a lower bound on what is dead.

Usage: python3 reach.py [repo root]   (default: the current directory)
"""
import os
import re
import sys

ROOT = sys.argv[1] if len(sys.argv) > 1 else "."
MAIN = os.path.join(ROOT, "src/main/scala/graft")
TEST = os.path.join(ROOT, "src/test/scala")
ROOT_DIRS = ("queries", "expressions")
ROOT_OBJECTS = ("SparkEntry",)

MODS = (r"(?:(?:private(?:\[\w+\])?|protected|final|override|implicit|lazy|"
        r"sealed|abstract|case)\s+)*")
TOP = re.compile(r"^" + MODS + r"(object|class|trait)\s+([A-Za-z_]\w*)")
MEMBER = re.compile(r"^  " + MODS + r"(def|val|var|class|object|trait|type)"
                    r"\s+([A-Za-z_]\w*)")


def strip_comments(src):
    """Blank out // and /* */ comments, keeping strings and line breaks."""
    out, i, n = [], 0, len(src)
    while i < n:
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            out.append(src[i:j]); i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1]); i = j + 1
        elif src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            j = src.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out.append("\n" * src.count("\n", i, j)); i = j
        else:
            out.append(src[i]); i += 1
    return "".join(out)


def scala_files(top):
    for d, _, fs in sorted(os.walk(top)):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


class Unit:
    def __init__(self, rel, obj, name, kind, line):
        self.rel, self.obj, self.name, self.kind = rel, obj, name, kind
        self.line, self.body = line, []

    def label(self):
        return "%s.%s" % (self.obj, self.name) if self.obj else self.name


def units(path, rel):
    """Top-level classes/traits, and each top-level object's members."""
    out, obj, cur = [], None, None
    for no, line in enumerate(strip_comments(open(path).read()).split("\n"), 1):
        top = TOP.match(line)
        if top:
            kind, name = top.groups()
            obj = name if kind == "object" else None
            cur = None if obj else Unit(rel, None, name, kind, no)
            if cur:
                out.append(cur)
        elif line.startswith("}"):
            obj = cur = None
            continue
        elif obj:
            m = MEMBER.match(line)
            if m:
                cur = Unit(rel, obj, m.group(2), m.group(1), no)
                out.append(cur)
        if cur is not None:
            cur.body.append(line)
    for u in out:
        u.body = "\n".join(u.body)
    return out


def names_in(text, u):
    """Does `text` name unit `u` (qualified, or bare where in scope)?"""
    if u.obj is None:
        return re.search(r"\b%s\b" % u.name, text) is not None
    if re.search(r"\b%s\.%s\b" % (u.obj, u.name), text):
        return True
    if u.name == "apply" and re.search(r"\b%s\(" % u.obj, text):
        return True
    imported = re.search(r"import [\w.]*\b%s\.(_|\{[^}]*\b%s\b)" %
                         (u.obj, u.name), text)
    return imported is not None and re.search(r"\b%s\b" % u.name, text)


def main():
    roots, cands = [], []
    for p in scala_files(MAIN):
        rel = os.path.relpath(p, MAIN)
        text = strip_comments(open(p).read())
        if rel.split(os.sep)[0] in ROOT_DIRS:
            roots.append(text)
            continue
        for u in units(p, rel):
            cands.append(u)
    owners = {u.obj for u in cands if u.obj}
    is_root = {o for o in owners if o in ROOT_OBJECTS or any(
        u.obj == o and u.name == "main" for u in cands)}
    reached = [u for u in cands if u.obj in is_root]
    frontier = [u.body for u in reached] + roots
    todo = [u for u in cands if u.obj not in is_root]
    while frontier:
        text = frontier.pop()
        for u in list(todo):
            if names_in(text, u):
                todo.remove(u); reached.append(u); frontier.append(u.body)
        # a bare name resolves inside its own object
        for u in list(todo):
            if u not in todo:
                continue
            if any(r.obj == u.obj and re.search(r"\b%s\b" % u.name, r.body)
                   for r in reached):
                todo.remove(u); reached.append(u); frontier.append(u.body)
    tests = {p: open(p).read() for p in scala_files(TEST)}
    print("units scanned: %d; unreached: %d" % (len(cands), len(todo)))
    for u in todo:
        specs = sorted(os.path.basename(p)[:-len(".scala")]
                       for p, s in tests.items() if names_in(s, u))
        print("%s:%d %s %s <- %s" % (u.rel, u.line, u.kind, u.label(),
                                     ", ".join(specs) or "no test"))


if __name__ == "__main__":
    main()
