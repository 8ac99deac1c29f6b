#!/usr/bin/env python3
"""List the `def`s in src/main that no entry point reaches.

Usage:
    python3 tools/reachability.py            # print every unreached def
    python3 tools/reachability.py --check    # exit 1 unless the unreached
                                             # set equals the README keep-list
                                             # and every [[link]] resolves

The scan is by name, over the Scala sources of src/main and perfbench/src
with every comment and string literal stripped (the code inside `${...}`
and `$name` of an interpolated string is kept). A name in a comment, in
a scaladoc [[link]] or in an error message is therefore not a use.

Entry points (the roots of the closure):
  - SparkEntry.queries, the registry;
  - the fn-step tables GraftFns.standard, CurationChain.fns, CcNet.fns;
  - GraftFunctions.functions, the SQL functions;
  - every `def main` of an object;
  - GraftExtensions, which `spark.sql.extensions` names;
  - all of perfbench/src and all of src/main/scala/graft/streaming.

From the roots the closure follows names:
  - a type (object, class or trait) is reached when its name is used; a
    reached type runs its constructor code and its non-lazy vals;
  - a member of an object is reached by `Owner.name`, or by a bare `name`
    inside Owner, its companion, a subtype of it, or a file that imports
    from Owner;
  - a member of a class or trait is reached, once its type is, by any
    `.name`, or by a bare `name` inside the type or a subtype;
  - `override` and `implicit` members, `apply`/`unapply`, and every
    member of a class or trait that extends a library type (Spark calls
    those) are reached with their type.

Name collisions make the scan conservative: a shared name can hide a
dead def. Code reached only by reflection is invisible to it;
GraftExtensions is the one such root. Overloads share one name and are
reached together. Only `def`s and whole types outside streaming/ are reported.

The keep-list is the table under the "## Keep-list" heading of README.md;
its first column holds `Owner.name` (or a type's name). What a listed
def calls is kept with it. --check fails on an unreached def that the
list does not cover, and on a list entry that names no def or names a
def that is now reached.

--check also fails on a dangling [[link]] in a comment: one whose last
name segment is declared nowhere in src/main or perfbench/src as a def,
val, var, type, object, class, trait or constructor parameter. Links
qualified by org., java., javax. or scala. are not checked. Only the
innermost [[...]] of a nest is a link, so "[[[A]], [[B]]]" holds two.
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC_MAIN = os.path.join("src", "main")
STREAMING = os.path.join("src", "main", "scala", "graft", "streaming") + os.sep
PERFBENCH = os.path.join("perfbench", "src")
ROOT_MEMBERS = {("SparkEntry", "queries"), ("GraftFns", "standard"),
                ("CurationChain", "fns"), ("CcNet", "fns"),
                ("GraftFunctions", "functions")}
ROOT_TYPES = {"GraftExtensions"}
ALWAYS_WITH_TYPE = {"apply", "unapply"}

MODIFIERS = {"private", "protected", "override", "final", "implicit", "lazy",
             "abstract", "sealed", "case"}
MEMBER_KW = {"def", "val", "var", "type", "class", "object", "trait"}
STARTS = MODIFIERS | MEMBER_KW | {"import", "package"}
OPEN, CLOSE = "([{", ")]}"
OP_CHARS = set("!#%&*+-/:<=>?@\\^|~")
IDENT = re.compile(r"[A-Za-z_$][A-Za-z0-9_$]*")
CHAR_LIT = re.compile(r"'(\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'")
NUMBER = re.compile(r"0[xX][0-9a-fA-F_]+[lL]?|\d[\d_]*(\.\d[\d_]*)?([eE][+-]?\d+)?[lLfFdD]?")


# ---------------------------------------------------------------- lexing

def lex(src, i=0, in_splice=False, notes=None):
    """Tokens of `src` from `i`: (text, line) pairs with comments and
    string literals removed, newlines kept as "\\n". Inside a `${...}`
    splice, stops at its closing brace and returns the index after it.
    Each comment's (text, line) is appended to `notes` when given."""
    toks, depth, n = [], 0, len(src)
    line = src.count("\n", 0, i) + 1
    while i < n:
        c = src[i]
        if c == "\n":
            toks.append(("\n", line))
            line += 1
            i += 1
        elif c in " \t\r\f":
            i += 1
        elif src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            if notes is not None:
                notes.append((src[i:j], line))
            i = j
        elif src.startswith("/*", i):
            j, nest = i + 2, 1
            while j < n and nest:
                if src.startswith("/*", j):
                    nest, j = nest + 1, j + 2
                elif src.startswith("*/", j):
                    nest, j = nest - 1, j + 2
                else:
                    j += 1
            if notes is not None:
                notes.append((src[i:j], line))
            line += src.count("\n", i, j)
            i = j
        elif c == '"':
            interp = bool(toks) and IDENT.fullmatch(toks[-1][0]) is not None \
                and i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
            if interp:
                toks.pop()
            start = i
            i, spliced = skip_string(src, i, interp)
            toks.extend(spliced)
            line += src.count("\n", start, i)
        elif c == "'":
            m = CHAR_LIT.match(src, i)
            i = m.end() if m else i + 1
        elif c == "`":
            j = src.index("`", i + 1)
            toks.append((src[i + 1:j], line))
            i = j + 1
        elif c in OPEN:
            depth += 1
            toks.append((c, line))
            i += 1
        elif c in CLOSE:
            if in_splice and c == "}" and depth == 0:
                return toks, i + 1
            depth -= 1
            toks.append((c, line))
            i += 1
        elif c in ".,;":
            toks.append((c, line))
            i += 1
        elif c.isdigit():
            m = NUMBER.match(src, i)
            i = m.end()
        elif c.isalpha() or c in "_$":
            m = IDENT.match(src, i)
            toks.append((m.group(), line))
            i = m.end()
        elif c in OP_CHARS:
            j = i
            while j < n and src[j] in OP_CHARS:
                j += 1
            toks.append((src[i:j], line))
            i = j
        else:
            i += 1
    return toks, i


def skip_string(src, i, interp):
    """Skip the string literal at `i`; return (end, tokens of its splices)."""
    triple = src.startswith('"""', i)
    i += 3 if triple else 1
    toks = []
    while i < len(src):
        if triple and src.startswith('"""', i):
            i += 3
            while i < len(src) and src[i] == '"':
                i += 1
            return i, toks
        c = src[i]
        if not triple and c == '"':
            return i + 1, toks
        if not triple and c == "\\":
            i += 2
        elif interp and src.startswith("$$", i):
            i += 2
        elif interp and src.startswith("${", i):
            inner, i = lex(src, i + 2, in_splice=True)
            toks.extend(t for t in inner if t[0] != "\n")
        elif interp and c == "$":
            m = IDENT.match(src, i + 1)
            if m:
                toks.append((m.group(), src.count("\n", 0, i) + 1))
                i = m.end()
            else:
                i += 1
        else:
            i += 1
    return i, toks


# ---------------------------------------------------------------- parsing

class Template:
    def __init__(self, kind, name, path, line, parent):
        self.kind, self.name, self.path, self.line = kind, name, path, line
        self.parent = parent
        self.loose = []          # header and constructor statements
        self.members = []
        self.supers = set()      # names in the extends/with clause
        self.imports = set()     # objects imported in its file
        self.reached = False


class Member:
    def __init__(self, kind, name, owner, line, mods, body):
        self.kind, self.name, self.owner, self.line = kind, name, owner, line
        self.mods, self.body = mods, body
        self.reached = False


def member_end(toks, i):
    """Index of the first token after the member or statement at `i`."""
    depth = 0
    j = i + 1
    while j < len(toks):
        t = toks[j][0]
        if t in OPEN:
            depth += 1
        elif t in CLOSE:
            if depth == 0:
                return j
            depth -= 1
        elif depth == 0 and (t in STARTS or t == ";"
                             or (t == "@" and toks[j - 1][0] == "\n")):
            return j
        j += 1
    return j


def header_end(toks, i):
    """(index of the body's `{` or None, index after the header)."""
    depth = 0
    j = i + 1
    while j < len(toks):
        t = toks[j][0]
        if depth == 0 and t == "{":
            return j, j
        if t in OPEN:
            depth += 1
        elif t in CLOSE:
            if depth == 0:
                return None, j
            depth -= 1
        elif depth == 0 and (t in STARTS or t == ";"):
            return None, j
        j += 1
    return None, j


def matching(toks, i):
    depth = 0
    for j in range(i, len(toks)):
        if toks[j][0] in OPEN:
            depth += 1
        elif toks[j][0] in CLOSE:
            depth -= 1
            if depth == 0:
                return j
    return len(toks)


def parse_body(toks, i, stop, owner, path, out, imports):
    """Parse the members of a template body toks[i:stop]."""
    while i < stop:
        t = toks[i][0]
        if t in ("\n", ";"):
            i += 1
            continue
        if t in ("import", "package"):
            while i < stop and toks[i][0] != "\n":
                i += 1
            continue
        mods = set()
        j = i
        while j < stop and (toks[j][0] in MODIFIERS or toks[j][0] == "\n"):
            mods.add(toks[j][0])
            j += 1
            if toks[j - 1][0] in ("private", "protected") and toks[j][0] == "[":
                j = matching(toks, j) + 1
        if j < stop and toks[j][0] == "@":
            j += 2
            if j < stop and toks[j][0] == "(":
                j = matching(toks, j) + 1
            i = j
            continue
        kw = toks[j][0] if j < stop else None
        if kw in ("class", "object", "trait"):
            name = toks[j + 1][0]
            tpl = Template(kw, name, path, toks[j][1], owner)
            tpl.imports = imports
            out.append(tpl)
            if owner is not None:
                owner.members.append(tpl)
            body, end = header_end(toks, j + 1)
            header = toks[j + 2:end]
            tpl.loose.extend(header)
            if "extends" in [x[0] for x in header]:
                k = [x[0] for x in header].index("extends")
                tpl.supers = {x[0] for x in header[k + 1:] if IDENT.fullmatch(x[0])}
            if body is None:
                i = end
            else:
                close = matching(toks, body)
                parse_body(toks, body + 1, close, tpl, path, out, imports)
                i = close + 1
        elif kw in ("def", "val", "var", "type"):
            end = member_end(toks, j)
            name = toks[j + 1][0] if j + 1 < stop else ""
            if kw == "val" and name == "(":
                name = ""
            kind = "lazy val" if kw == "val" and "lazy" in mods else kw
            if owner is not None:
                owner.members.append(Member(kind, name, owner, toks[j][1], mods,
                                            toks[j + 1:end]))
            i = end
        else:
            end = member_end(toks, j)
            if owner is not None:
                owner.loose.extend(toks[j:end])
            i = max(end, i + 1)


def imported_objects(toks):
    """Names whose members an `import` of the file brings into scope:
    `X` of `import a.X._`, `import a.X.{m, n}` and `import a.X.m`."""
    names = set()
    for i, (t, _) in enumerate(toks):
        if t != "import":
            continue
        path = []
        for u, _ in toks[i + 1:]:
            if u in ("\n", ";"):
                break
            path.append(u)
        if "{" in path and path.index("{") >= 2:
            names.add(path[path.index("{") - 2])
        elif len(path) >= 3:
            names.add(path[-3])
    return names


def load(root):
    """The parsed templates, and every comment as (path, text, line)."""
    templates, notes = [], []
    for base in (SRC_MAIN, PERFBENCH):
        for dirpath, _, files in sorted(os.walk(os.path.join(root, base))):
            for f in sorted(files):
                if not f.endswith(".scala"):
                    continue
                path = os.path.relpath(os.path.join(dirpath, f), root)
                with open(os.path.join(root, path), encoding="utf-8") as fh:
                    file_notes = []
                    toks, _ = lex(fh.read(), notes=file_notes)
                parse_body(toks, 0, len(toks), None, path, templates,
                           imported_objects(toks))
                notes += [(path, text, line) for text, line in file_notes]
    return templates, notes


# ---------------------------------------------------------------- links

LINK = re.compile(r"\[\[([^\[\]]+)\]\]")
EXTERNAL = ("org.", "java.", "javax.", "scala.")


def declared_names(templates):
    """Every name src/main and perfbench/src declare: members, types and
    the parameters of class constructors."""
    names = set()
    for t in templates:
        names.add(t.name)
        names |= {m.name for m in t.members}
        if t.kind == "class":
            toks = [x[0] for x in t.loose if x[0] != "\n"]
            names |= {a for a, b in zip(toks, toks[1:])
                      if b == ":" and IDENT.fullmatch(a)}
    return names


def dangling_links(templates, notes):
    """"path:line [[link]]" of every link whose last segment names nothing."""
    names = declared_names(templates)
    out = []
    for path, text, line in notes:
        for m in LINK.finditer(text):
            target = re.sub(r"\s*\n\s*\*?\s*", "", m.group(1)).strip()
            if target.startswith(EXTERNAL):
                continue
            last = re.split(r"[.#]", target.split("(")[0].rstrip("*$!"))[-1]
            if last not in names:
                at = line + text.count("\n", 0, m.start())
                out.append(f"{path}:{at} [[{target}]]")
    return out


# ---------------------------------------------------------------- closure

def analyse(templates, extra_roots=()):
    """Unreached defs and types, by name -> "path:line", for the closure
    from the entry points plus `extra_roots` (`Owner.name` of a def, or
    the qualified name of a type)."""
    for t in templates:
        t.reached = False
        for m in t.members:
            m.reached = False
    by_name = {}
    for t in templates:
        by_name.setdefault(t.name, []).append(t)
    objects = {t.name for t in templates if t.kind == "object"}

    def ancestors(t, seen):
        for s in t.supers:
            for u in by_name.get(s, []):
                if u not in seen:
                    seen.add(u)
                    ancestors(u, seen)
        return seen

    scope_cache = {}

    def scope(t):
        """Templates whose members a bare name inside `t` may denote."""
        if t not in scope_cache:
            s, cur = set(), t
            while cur is not None:
                s.add(cur)
                s |= {u for u in by_name[cur.name] if u.path == cur.path}
                cur = cur.parent
            for u in list(s):
                ancestors(u, s)
            for imp in t.imports:
                s |= set(by_name.get(imp, []))
            scope_cache[t] = s
        return scope_cache[t]

    def library_super(t):
        return t.kind != "object" and any(s not in by_name for s in t.supers)

    used_types, dotted, qualified, bare = set(), set(), set(), set()
    queue = []

    def reach_template(t):
        if not t.reached:
            t.reached = True
            queue.append((t.loose, t))
            if t.parent is not None:
                reach_template(t.parent)

    def reach_member(m):
        if not m.reached:
            m.reached = True
            queue.append((m.body, m.owner))
            reach_template(m.owner)

    def scan(toks, ctx):
        sc = scope(ctx)
        toks = [t for t in toks if t[0] != "\n"]
        for k, (t, _) in enumerate(toks):
            if not IDENT.fullmatch(t):
                continue
            if t in by_name:
                used_types.add(t)
            q = toks[k - 2][0] if k >= 2 and toks[k - 1][0] == "." else None
            if q is None or q in ("this", "super"):
                for s in sc:
                    bare.add((s, t))
            else:
                dotted.add(t)
                if q in objects:
                    qualified.add((q, t))

    for t in templates:
        if (t.path.startswith((STREAMING, PERFBENCH)) or t.name in ROOT_TYPES
                or qualified_name(t) in extra_roots):
            reach_template(t)
            for m in t.members:
                if isinstance(m, Member):
                    reach_member(m)
        for m in t.members:
            if isinstance(m, Member) and ((t.name, m.name) in ROOT_MEMBERS or
                                          t.kind == "object" and m.name == "main"
                                          or f"{t.name}.{m.name}" in extra_roots):
                reach_member(m)

    changed = True
    while changed:
        while queue:
            toks, ctx = queue.pop()
            scan(toks, ctx)
        changed = False
        for t in templates:
            if not t.reached and t.name in used_types:
                reach_template(t)
                changed = True
            if not t.reached:
                continue
            for m in t.members:
                if not isinstance(m, Member) or m.reached:
                    continue
                live = (m.kind in ("val", "var") or m.mods & {"override", "implicit"}
                        or m.name in ALWAYS_WITH_TYPE or library_super(t)
                        or (t, m.name) in bare)
                if t.kind == "object":
                    live = live or (t.name, m.name) in qualified
                else:
                    live = live or m.name in dotted
                if live:
                    reach_member(m)
                    changed = True
        changed = changed or bool(queue)

    unreached = {}
    for t in templates:
        if t.path.startswith((STREAMING, PERFBENCH)):
            continue
        if not t.reached:
            if t.parent is None or t.parent.reached:
                unreached[qualified_name(t)] = f"{t.path}:{t.line}"
            continue
        for m in t.members:
            if isinstance(m, Member) and m.kind == "def" and not m.reached:
                unreached.setdefault(f"{t.name}.{m.name}", f"{t.path}:{m.line}")
    # a name shared by overloads is reported once, and only when every
    # overload is unreached
    for t in templates:
        for m in t.members:
            if isinstance(m, Member) and m.reached:
                unreached.pop(f"{t.name}.{m.name}", None)
    return unreached


def declared(templates):
    names = {qualified_name(t) for t in templates}
    names |= {f"{t.name}.{m.name}" for t in templates for m in t.members
              if isinstance(m, Member) and m.kind == "def"}
    return names


def qualified_name(t):
    return t.name if t.parent is None else f"{qualified_name(t.parent)}.{t.name}"


def keep_list(root):
    """First-column names of the table under README's "## Keep-list"."""
    keep, inside = [], False
    with open(os.path.join(root, "README.md"), encoding="utf-8") as fh:
        for line in fh:
            if line.startswith("#"):
                inside = line.strip().lower().startswith("## keep-list")
                continue
            m = re.match(r"\|\s*`([A-Za-z_$][\w$.]*)`\s*\|", line)
            if inside and m:
                keep.append(m.group(1))
    return keep


def main(argv):
    templates, notes = load(ROOT)
    keep = keep_list(ROOT)
    unreached = analyse(templates)
    # what a kept def calls is kept with it
    uncovered = analyse(templates, set(keep))
    for name in sorted(unreached):
        tag = "kept" if name in keep else "kept as a callee" \
            if name not in uncovered else "UNREACHED"
        print(f"{name}\t{unreached[name]}\t{tag}")
    print(f"{len(unreached)} unreached, {len(keep)} on the keep-list, "
          f"{len(uncovered)} neither", file=sys.stderr)
    if "--check" not in argv:
        return 0
    errors = [f"unreached and not on the README keep-list: {n} ({uncovered[n]})"
              for n in sorted(uncovered)]
    names = declared(templates)
    for n in keep:
        if n not in names:
            errors.append(f"keep-list entry names no def: {n}")
        elif n not in unreached:
            errors.append(f"keep-list entry is reached now, drop it: {n}")
    errors += [f"dangling link, its last name is declared nowhere: {d}"
               for d in dangling_links(templates, notes)]
    for e in errors:
        print(e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
