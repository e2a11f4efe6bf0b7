#!/usr/bin/env python3
"""Dead-code and dead-option scan over the main sources.

Section 1, unreached units. Roots: every `QuerySpec` body (`queries/`),
`expressions/` (registered as a session extension), the query registry
`SparkEntry`, and every object with a `main`. From there a
top-level class or trait is reached when a reached body names it, and a
member of a top-level object (def, val, class, object or type) when a
reached body names it as `Obj.name`, or as a bare `name` (not preceded by
a word character or a dot, so `Other.name` does not count) inside its own
object (`Obj(...)` for `apply`) or under an `import Obj._` /
`import Obj.{name}`. A reached class brings its whole body. Comments are
stripped first, so a scaladoc mention is not a call. Prints each
unreached unit with the test files that name it. A word match
over-approximates reachability (a local of the same name counts), so the
list is a lower bound on what is dead.

Section 2, one-value options. For every def that is a member of a
top-level object, each default parameter that is Boolean-typed or
object-typed (a non-numeric, non-String type whose default is a stable
path such as `None`, `Nil` or `Dedup.Md5Hasher`) is checked at every call
site outside the specs: the main sources plus `perfbench/src/main`. A
call site names the def as `Obj.name(`, or bare under the same rules as
section 1. A parameter is listed when the def has at least one call site
and every call site passes the same fixed value (a literal or a stable
path), counting an omitted argument as its default. An argument computed
at run time (a flag, a variable) counts as a second value.

Usage: python3 tools/reach.py [repo root]   (default: the current directory)
"""
import os
import re
import sys

ROOT = sys.argv[1] if len(sys.argv) > 1 else "."
MAIN = os.path.join(ROOT, "src/main/scala/graft")
TEST = os.path.join(ROOT, "src/test/scala")
BENCH = os.path.join(ROOT, "perfbench/src/main/scala")
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


def bare(name):
    """`name` as a word that is not the tail of a qualified `Other.name`."""
    return r"(?<![\w.])%s\b" % re.escape(name)


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
    return imported is not None and re.search(bare(u.name), text)


def unreached():
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
            if any(r.obj == u.obj and re.search(bare(u.name), r.body)
                   for r in reached):
                todo.remove(u); reached.append(u); frontier.append(u.body)
    tests = {p: open(p).read() for p in scala_files(TEST)}
    print("units scanned: %d; unreached: %d" % (len(cands), len(todo)))
    for u in todo:
        specs = sorted(os.path.basename(p)[:-len(".scala")]
                       for p, s in tests.items() if names_in(s, u))
        print("%s:%d %s %s <- %s" % (u.rel, u.line, u.kind, u.label(),
                                     ", ".join(specs) or "no test"))


OPEN, CLOSE = "([{", ")]}"
NUMERIC = {"Int", "Long", "Double", "Float", "Short", "Byte", "Char",
           "String", "BigDecimal"}
LITERAL = re.compile(r'^(true|false|-?[\d.]+[LlDdFf]?|"[^"]*"|null)$')
STABLE = re.compile(r"^[A-Z]\w*(\.\w+)*$")
PARAM = re.compile(r"^\s*(?:implicit\s+)?(\w+)\s*:\s*(.+?)"
                   r"(?:\s=(?![>=])\s*(.+))?\s*$", re.S)
NAMED = re.compile(r"^\s*(\w+)\s*=(?![=>])\s*(.+?)\s*$", re.S)


def group_at(text, i):
    """The bracketed group opening at text[i] -> (inner text, end index)."""
    depth, j, n = 0, i, len(text)
    while j < n:
        c = text[j]
        if c == '"':
            j = text.find('"', j + 1)
            if j < 0:
                return text[i + 1:], n
        elif c in OPEN:
            depth += 1
        elif c in CLOSE:
            depth -= 1
            if depth == 0:
                return text[i + 1:j], j + 1
        j += 1
    return text[i + 1:], n


def split_top(inner):
    """Split on commas outside brackets and string literals."""
    parts, depth, cur, j = [], 0, [], 0
    while j < len(inner):
        c = inner[j]
        if c == '"':
            k = inner.find('"', j + 1)
            k = len(inner) - 1 if k < 0 else k
            cur.append(inner[j:k + 1]); j = k + 1
            continue
        if c in OPEN:
            depth += 1
        elif c in CLOSE:
            depth -= 1
        if c == "," and depth == 0:
            parts.append("".join(cur)); cur = []
        else:
            cur.append(c)
        j += 1
    if "".join(cur).strip():
        parts.append("".join(cur))
    return parts


def groups_after(text, i):
    """Type-argument-skipping list of the (...) groups starting at i."""
    while i < len(text) and text[i] == "[":
        i = group_at(text, i)[1]
    out = []
    while i < len(text) and text[i] == "(":
        inner, i = group_at(text, i)
        out.append(inner)
    return out


def norm(v):
    return " ".join(v.split())


def is_fixed(v):
    return bool(LITERAL.match(v) or STABLE.match(v))


class Option:
    def __init__(self, rel, line, obj, fn, gi, pi, name, typ, default):
        self.rel, self.line, self.obj, self.fn = rel, line, obj, fn
        self.gi, self.pi, self.name = gi, pi, name
        self.typ, self.default = norm(typ), norm(default)
        self.values = []


def option_params(text, rel):
    """Boolean- or object-typed default params of top-level object defs."""
    out, obj = [], None
    lines = text.split("\n")
    offsets = [0]
    for line in lines:
        offsets.append(offsets[-1] + len(line) + 1)
    for no, line in enumerate(lines):
        top = TOP.match(line)
        if top:
            obj = top.group(2) if top.group(1) == "object" else None
            continue
        if line.startswith("}"):
            obj = None
            continue
        m = MEMBER.match(line)
        if not (obj and m and m.group(1) == "def"):
            continue
        fn = m.group(2)
        start = offsets[no] + m.end()
        for gi, group in enumerate(groups_after(text, start)):
            for pi, raw in enumerate(split_top(group)):
                pm = PARAM.match(raw)
                if not pm or pm.group(3) is None:
                    continue
                name, typ, default = pm.groups()
                typ = typ.strip()
                if typ == "Boolean" or (
                        typ not in NUMERIC and STABLE.match(default.strip())):
                    out.append(Option(rel, no + 1, obj, fn, gi, pi, name,
                                      typ, default))
    return out


def call_sites(texts, obj, fn):
    """Argument groups of every call of `obj.fn` in `texts`."""
    qualified = re.compile(r"\b%s\.%s\b" % (obj, re.escape(fn)))
    plain = re.compile(r"(?<!def )" + bare(fn))
    imports = re.compile(r"import [\w.]*\b%s\.(_|\{[^}]*\b%s\b)" %
                         (obj, re.escape(fn)))
    for text, owners in texts:
        pats = [qualified]
        if obj in owners or imports.search(text):
            pats.append(plain)
        seen = set()
        for pat in pats:
            for m in pat.finditer(text):
                if m.start() in seen or text[m.end():m.end() + 1] not in "([":
                    continue
                seen.add(m.start())
                groups = groups_after(text, m.end())
                if groups:
                    yield groups


def options():
    texts, params = [], []
    for top in (MAIN, BENCH):
        for p in scala_files(top):
            text = strip_comments(open(p).read())
            owners = {m.group(2) for m in map(TOP.match, text.split("\n"))
                      if m and m.group(1) == "object"}
            texts.append((text, owners))
            if top == MAIN:
                params += option_params(text, os.path.relpath(p, MAIN))
    listed = []
    for o in params:
        for groups in call_sites(texts, o.obj, o.fn):
            if o.gi >= len(groups):
                continue
            args = split_top(groups[o.gi])
            value = o.default
            for ai, a in enumerate(args):
                named = NAMED.match(a)
                if named and named.group(1) == o.name:
                    value = norm(named.group(2))
                elif not named and ai == o.pi:
                    value = norm(a)
            o.values.append(value)
        vals = set(o.values)
        if len(vals) == 1 and is_fixed(next(iter(vals))):
            listed.append(o)
    print()
    print("default parameters scanned: %d; one value at every call site: %d"
          % (len(params), len(listed)))
    for o in listed:
        v = o.values[0]
        print("%s:%d %s.%s(%s: %s = %s) <- %d call sites, %s" % (
            o.rel, o.line, o.obj, o.fn, o.name, o.typ, o.default,
            len(o.values),
            "all keep the default" if v == o.default else "all pass " + v))


def main():
    unreached()
    options()


if __name__ == "__main__":
    main()
