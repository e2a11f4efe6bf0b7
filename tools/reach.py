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

Section 2, one-value options. The signatures scanned are every def that
is a member of a top-level object, the primary constructor of every
top-level class and of every class that is a member of a top-level
object, and every secondary constructor (`def this`) of a top-level
class. Each of their parameters is checked at every call site outside
the specs: the main sources plus `perfbench/src/main`. A call site names
a def as `Obj.name(`, or bare under the same rules as section 1; a
constructor as `Cls(` or `new Cls(`, or `Obj.Cls(` for a member class.
When a class has two constructors, a call counts for the one whose first
parameter group fits its argument count. A parameter is listed when its
signature has at least one call site, every call site passes the same
fixed value (a literal or a stable path), counting an omitted argument
as its default, and it is an option: Boolean-typed, or of a
non-numeric, non-String type with a stable-path value such as `None`,
`Nil` or `Dedup.Md5Hasher` (its default, or for a required parameter the
value every caller passes). An argument computed at run time (a flag, a
variable) counts as a second value.

Usage: python3 tools/reach.py [repo root]   (default: the current directory)
"""
import functools
import os
import re
import sys

ROOT = sys.argv[1] if len(sys.argv) > 1 else "."
MAIN = os.path.join(ROOT, "src/main/scala/graft")
TEST = os.path.join(ROOT, "src/test/scala")
BENCH = os.path.join(ROOT, "perfbench/src/main/scala")
ROOT_DIRS = ("queries", "expressions")
ROOT_OBJECTS = ("SparkEntry",)

# re's own pattern cache holds 512 entries, far fewer than the scan's
# distinct patterns; without this the scan spends its time recompiling
rx = functools.lru_cache(maxsize=None)(re.compile)

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
        return rx(r"\b%s\b" % u.name).search(text) is not None
    if rx(r"\b%s\.%s\b" % (u.obj, u.name)).search(text):
        return True
    if u.name == "apply" and rx(r"\b%s\(" % u.obj).search(text):
        return True
    imported = rx(r"import [\w.]*\b%s\.(_|\{[^}]*\b%s\b)" %
                  (u.obj, u.name)).search(text)
    return imported is not None and rx(bare(u.name)).search(text)


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
            if any(r.obj == u.obj and rx(bare(u.name)).search(r.body)
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
    def __init__(self, rel, line, owner, fn, sig, gi, pi, name, typ,
                 default):
        self.rel, self.line, self.owner, self.fn = rel, line, owner, fn
        self.sig, self.gi, self.pi, self.name = sig, gi, pi, name
        self.typ = norm(typ)
        self.default = norm(default) if default is not None else None
        self.values = []

    def label(self):
        """`Obj.fn`, `Cls` (primary constructor) or `Cls.this`."""
        return ".".join(x for x in (self.owner, self.fn) if x)


def arity(group):
    """(required, total) argument count of one parameter group; a
    repeated parameter (`xs: T*`) makes the total unbounded."""
    params = [PARAM.match(raw) for raw in split_top(group)]
    params = [pm for pm in params if pm]
    required = sum(1 for pm in params if pm.group(3) is None and
                   not pm.group(2).strip().endswith("*"))
    total = (float("inf") if any(pm.group(2).strip().endswith("*")
                                 for pm in params) else len(params))
    return required, total


CTOR = re.compile(r"\s*(?:\[[^\]]*\])?\s*"
                  r"(?:(?:private|protected)(?:\[\w+\])?\s*)?")


def signature_params(rel, owner, fn, groups, no):
    """Option candidates of one signature: Boolean- or object-typed
    parameters, with or without a default."""
    out = []
    sig = [arity(g) for g in groups]
    for gi, group in enumerate(groups):
        for pi, raw in enumerate(split_top(group)):
            pm = PARAM.match(raw)
            if not pm:
                continue
            name, typ, default = pm.groups()
            typ = typ.strip()
            if typ == "Boolean" or default is None or (
                    typ not in NUMERIC and STABLE.match(default.strip())):
                out.append(Option(rel, no + 1, owner, fn, sig, gi, pi, name,
                                  typ, default))
    return out


def option_params(text, rel):
    """Parameters of top-level object defs, of top-level classes' primary
    and secondary constructors, and of classes that are members of a
    top-level object."""
    out, obj, cls = [], None, None
    lines = text.split("\n")
    offsets = [0]
    for line in lines:
        offsets.append(offsets[-1] + len(line) + 1)
    for no, line in enumerate(lines):
        top = TOP.match(line)
        if top:
            kind, name = top.groups()
            obj = name if kind == "object" else None
            cls = name if kind == "class" else None
            if cls:
                start = offsets[no] + top.end()
                out += signature_params(rel, None, cls, groups_after(
                    text, CTOR.match(text, start).end()), no)
            continue
        if line.startswith("}"):
            obj = cls = None
            continue
        m = MEMBER.match(line)
        if not m:
            continue
        start = offsets[no] + m.end()
        if obj and m.group(1) == "def":
            out += signature_params(rel, obj, m.group(2),
                                    groups_after(text, start), no)
        elif obj and m.group(1) == "class":
            out += signature_params(rel, obj, m.group(2), groups_after(
                text, CTOR.match(text, start).end()), no)
        elif cls and m.group(1) == "def" and m.group(2) == "this":
            out += signature_params(rel, cls, "this",
                                    groups_after(text, start), no)
    return out


def call_sites(texts, owner, fn):
    """Argument groups of every call of `owner.fn`, of a top-level class
    `fn`'s constructor (`owner` None) or of its secondary constructors
    (`fn` "this": `new owner(`), in `texts`. A definition (`def fn(`,
    `class fn(`) or a pattern (`case fn(`) is not a call."""
    not_call = r"(?<!def )(?<!class )(?<!case )"
    if owner is None or fn == "this":
        qualified = re.compile(not_call + r"(?<![\w.])(?:[a-z_]\w*\.)*%s\b"
                               % re.escape(owner or fn))
        plain, imports = None, None
    else:
        qualified = re.compile(r"\b%s\.%s\b" % (owner, re.escape(fn)))
        plain = re.compile(not_call + bare(fn))
        imports = re.compile(r"import [\w.]*\b%s\.(_|\{[^}]*\b%s\b)" %
                             (owner, re.escape(fn)))
    for text, owners in texts:
        pats = [qualified]
        if plain and (owner in owners or imports.search(text)):
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


def fits(sig, groups):
    """Does a call's first argument group fit the signature's arity?
    Overloads (a primary and a secondary constructor) are told apart
    this way."""
    required, total = sig[0]
    return required <= len(split_top(groups[0])) <= total


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
    listed, sites = [], {}
    for o in params:
        key = (o.owner, o.fn)
        if key not in sites:
            sites[key] = list(call_sites(texts, o.owner, o.fn))
        for groups in sites[key]:
            if o.gi >= len(groups) or not fits(o.sig, groups):
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
        if len(vals) != 1:
            continue
        v = next(iter(vals))
        if v is None or not is_fixed(v):
            continue
        # a required parameter is an option only when it is Boolean or
        # takes a stable path of a non-numeric, non-String type
        if o.default is None and not (o.typ == "Boolean" or (
                o.typ not in NUMERIC and STABLE.match(v))):
            continue
        listed.append(o)
    print()
    print("parameters scanned: %d; one value at every call site: %d"
          % (len(params), len(listed)))
    for o in listed:
        v = o.values[0]
        decl = "%s: %s" % (o.name, o.typ) + (
            "" if o.default is None else " = " + o.default)
        print("%s:%d %s(%s) <- %d call sites, %s" % (
            o.rel, o.line, o.label(), decl, len(o.values),
            "all keep the default" if v == o.default else "all pass " + v))


def main():
    unreached()
    options()


if __name__ == "__main__":
    main()
