#!/usr/bin/env python3
"""List the members of `src/main` objects that no entry point reaches.

    python3 tools/spec_only_defs.py [REPO_ROOT]

A member (`def`, `val`, `var`, `class`, `object`, `trait`, `type`) of an
`object` under `src/main/scala` is live when a chain of references from a
root reaches it. Comments and string literals are stripped first.

Roots:
  - every `main`;
  - the driver contract, `SparkEntry.{entry,queries,oracleSql}`;
  - code outside objects: top-level classes and traits (`GraftExtensions`,
    the Catalyst expression classes);
  - every member that a `perfbench/src` file names;
  - the keep list below, each entry with its reason.

References, read from the text of one member (a member's text runs from
its definition to the next member of the same object; the text of a nested
member belongs to the nested member):
  - a qualified name, `Obj.m`;
  - a name imported from an object (`import ...Obj._`,
    `import ...Obj.{m, ...}`, `import ...Obj.m`) and used in the same file;
  - an unqualified name inside the same object or an enclosing one.
A name right after a `.` is a selection on some value, not a reference:
`.start()` reaches no member called `start`. Reaching a member reaches its
object, whose `override`s, `apply` and `unapply` count as the object's own
code.

Every member that no root reaches is printed with its definition site and
the spec files under `src/test` that name it. A keep-list member is marked
KEEP with its reason; any other is marked DEAD (a member reached only from
a KEEP member is live and not printed). A keep-list entry that matches no
KEEP member, because it names nothing or a root already reaches what it
names, is printed as `STALE <entry>`. The exit code is 1 when a DEAD or
STALE line is printed, else 0.

Names are resolved without types, so a local that shadows a member counts
as a reference to it: the list can miss dead code, it does not report live
code.
"""
import os
import re
import sys

KEEP = {
    "Dedup.jaccardDistinct": "reference form PropertySpec compares the verify kernel against",
    "MediaCodecs.wavWindowRms": "float RMS reference PropertySpec checks wavWindowEnergy against",
    "Readers.read": "the reference app's upload dispatch by file suffix (app.py:296-315)",
    "Dedup.gateCacheClear": "private[graft] test seam that resets the collapse-gate cache",
    "Similarity.cosine": "scalar cosine the vector specs use as their fixture oracle",
    "Bucketing.writeBucketed": "writes the bucketed fixture tables the bucketed-join pins read",
    "MediaCodecs.encodePng": "fixture encoder for the PNG decode tests",
    "MediaCodecs.encodeJpeg": "fixture encoder for the JPEG decode test",
    "Corpus.compact": "offline small-files maintenance an operator runs between ingests",
    "Materialize.reliable": "the durability scope a cluster deployment opens around a run",
}

# the external harness calls these
DRIVER = ("SparkEntry.entry", "SparkEntry.queries", "SparkEntry.oracleSql")

# members that belong to their object's own code: reached with the object
OBJECT_CODE = {"apply", "unapply"}


def kept(key, keep):
    """The keep-list reason for `key` (a trailing `*` matches a prefix)."""
    for k, reason in keep.items():
        if key == k or (k.endswith("*") and key.startswith(k[:-1])):
            return reason
    return None


MEMBER = re.compile(
    r"^[ \t]*((?:@\w+(?:\([^)]*\))?\s+)*)"
    r"((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|implicit\s+"
    r"|lazy\s+|sealed\s+|abstract\s+|case\s+)*)"
    r"(def|val|var|class|object|trait|type)\s+([A-Za-z_]\w*)",
    re.M)
OBJECT = re.compile(r"\bobject\s+([A-Za-z_]\w*)[^{\n]*\{")
IMPORT = re.compile(r"\bimport\s+((?:\w+\s*\.\s*)+)(\{[^}]*\}|_|\w+)")
WORD = re.compile(r"\b[A-Za-z_]\w*")
DEF_KEYWORD = re.compile(r"\b(?:def|val|var|class|object|trait|type)\s+$")


def splice_end(src, j):
    """The offset just past the `}` that closes the `${` splice whose body
    starts at `j`; string literals inside the splice are skipped whole."""
    depth, n = 1, len(src)
    while j < n and depth:
        if src.startswith('"""', j):
            k = src.find('"""', j + 3)
            j = n if k < 0 else k + 3
        elif src[j] == '"':
            k = j + 1
            while k < n and src[k] not in '"\n':
                k += 2 if src[k] == "\\" else 1
            j = k + 1
        else:
            depth += {"{": 1, "}": -1}.get(src[j], 0)
            j += 1
    return j


def strip(src):
    """`src` with comments and string/char literal contents blanked out,
    except the `${...}` and `$name` splices of interpolated strings (they
    are code); newlines are kept, so offsets and line numbers stay valid."""
    out = []
    i, n = 0, len(src)

    def blank(s):
        return re.sub(r"[^\n]", " ", s)

    def literal(body, interpolated):
        if not interpolated:
            return blank(body)
        parts, k = [], 0
        for m in re.finditer(r"\$\$|\$\{|\$[A-Za-z_]\w*", body):
            if m.start() < k:
                continue
            parts.append(blank(body[k:m.start()]))
            if m.group(0) == "${":
                j = splice_end(body, m.end())
                parts.append(" " + strip(body[m.start() + 1:j]))
                k = j
            else:
                parts.append(" " + m.group(0)[1:] if m.group(0) != "$$" else "  ")
                k = m.end()
        parts.append(blank(body[k:]))
        return "".join(parts)

    while i < n:
        c = src[i]
        interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(blank(src[i:j]))
            i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(blank(src[i:j]))
            i = j
        elif src.startswith('"""', i):
            j = i + 3
            while j < n and not src.startswith('"""', j):
                j = splice_end(src, j + 2) if interp and src.startswith("${", j) else j + 1
            j = min(j + 3, n)
            while j < n and src[j] == '"':
                j += 1
            out.append('""' + literal(src[i + 2:j - 2], interp) + '""')
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                if interp and src.startswith("${", j):
                    j = splice_end(src, j + 2)
                else:
                    j += 2 if src[j] == "\\" else 1
            j = min(j + 1, n)
            out.append('"' + literal(src[i + 1:j - 1], interp) + '"')
            i = j
        elif c == "'":
            m = re.compile(r"'(?:\\u[0-9a-fA-F]{4}|\\.|[^'\\\n])'").match(src, i)
            if m:
                out.append(blank(m.group(0)))
                i = m.end()
            else:
                out.append(c)
                i += 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


def scala_files(root, sub):
    base = os.path.join(root, sub)
    for d, _, fs in os.walk(base):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def read_stripped(path):
    with open(path, encoding="utf-8", errors="replace") as f:
        return strip(f.read())


def imports(text):
    """{object name: selector set} of `text`'s imports (`_` for a wildcard),
    and `text` with the import statements blanked out."""
    found = {}
    for im in IMPORT.finditer(text):
        obj = re.split(r"\s*\.\s*", im.group(1).strip())[-2]
        sel = im.group(2)
        names = {"_"} if sel == "_" else set(re.findall(r"\w+", sel))
        found.setdefault(obj, set()).update(names)
    blanked = IMPORT.sub(lambda m: re.sub(r"[^\n]", " ", m.group(0)), text)
    return found, blanked


def words(text):
    """The names in `text` that are not a selection (`x.name`) and not a
    definition (`def name`)."""
    for m in WORD.finditer(text):
        j = m.start() - 1
        while j >= 0 and text[j] in " \t\r\n":
            j -= 1
        if j >= 0 and text[j] == ".":
            continue
        if DEF_KEYWORD.search(text, max(0, m.start() - 12), m.start()):
            continue
        yield m.group(0)


QUALIFIED = re.compile(r"\b([A-Za-z_]\w*)\s*\.\s*(?=([A-Za-z_]\w*))")  # a.b.c: a.b and b.c


def references(text, imported, scope, members_of):
    """The member keys (`Obj.m`) and object names that `text` names.
    `imported` is the file's import map, `scope` the enclosing objects
    (innermost first), `members_of` {object: set of member names}."""
    out = set()
    for m in QUALIFIED.finditer(text):
        obj, name = m.group(1), m.group(2)
        if name in members_of.get(obj, ()):
            out.add("%s.%s" % (obj, name))
    for w in set(words(text)):
        if w in members_of:
            out.add(w)
        for obj in scope:
            if w in members_of[obj]:
                out.add("%s.%s" % (obj, w))
        for obj, sel in imported.items():
            if w in members_of.get(obj, ()) and ("_" in sel or w in sel):
                out.add("%s.%s" % (obj, w))
    return out


class Source:
    """One `src/main` file split into nodes: each object member, each
    object's own code (key = object name), and the file's top level
    (key = None)."""

    def __init__(self, path, text):
        self.path, self.text = path, text
        n = len(text)
        depth, d = [0] * (n + 1), 0
        for i, c in enumerate(text):
            depth[i] = d
            d += {"{": 1, "}": -1}.get(c, 0)
        depth[n] = d
        self.objects = []   # (name, enclosing object or None, start, end)
        self.members = []   # (object, name, def offset, modifiers)
        spans = []          # (start, end, node key)
        for om in OBJECT.finditer(text):
            body, bd = om.end(), depth[om.end()]
            end = body
            while end < n and not (text[end] == "}" and depth[end] == bd):
                end += 1
            parent = None
            for name, _, s, e in self.objects:
                if s < om.start() < e:
                    parent = name
            self.objects.append((om.group(1), parent, om.start(), end + 1))
            spans.append((om.start(), end + 1, om.group(1)))
            direct = [mm for mm in MEMBER.finditer(text, body, end)
                      if depth[mm.start(3)] == bd]
            for k, mm in enumerate(direct):
                name, mods = mm.group(4), mm.group(2)
                stop = direct[k + 1].start() if k + 1 < len(direct) else end
                self.members.append((om.group(1), name, mm.start(3), mods))
                code = "override" in mods or name in OBJECT_CODE
                key = om.group(1) if code else "%s.%s" % (om.group(1), name)
                spans.append((max(mm.start(), body), stop, key))
        owner = [None] * n
        for s, e, key in sorted(spans, key=lambda t: t[0] - t[1]):
            owner[s:e] = [key] * (e - s)
        self.node_text = {}
        i = 0
        while i < n:
            j = i
            while j < n and owner[j] == owner[i]:
                j += 1
            self.node_text.setdefault(owner[i], []).append(text[i:j])
            i = j

    def scope(self, key):
        """The objects enclosing node `key`, innermost first."""
        if key is None:
            return []
        obj = key.split(".")[0]
        parents = {name: parent for name, parent, _, _ in self.objects}
        chain = []
        while obj is not None:
            chain.append(obj)
            obj = parents.get(obj)
        return chain


def reachability(root, keep=KEEP):
    """(printed lines, number of DEAD members, STALE keep entries) for the
    tree at `root`."""
    sources = [Source(p, read_stripped(p))
               for p in sorted(scala_files(root, "src/main/scala"))]
    members_of = {}
    for src in sources:
        for name, _, _, _ in src.objects:
            members_of.setdefault(name, set())
        for obj, name, _, _ in src.members:
            members_of[obj].add(name)

    edges, roots = {}, set(DRIVER)
    for src in sources:
        imported, _ = imports(src.text)
        for key, parts in src.node_text.items():
            _, body = imports("\n".join(parts))
            refs = references(body, imported, src.scope(key), members_of)
            if key is None:
                roots |= refs
            else:
                edges.setdefault(key, set()).update(refs)
        for name, parent, _, _ in src.objects:
            if parent is not None:   # a nested object is its parent's member
                edges.setdefault(name, set()).add("%s.%s" % (parent, name))
                edges.setdefault("%s.%s" % (parent, name), set()).add(name)
        for obj, name, _, _ in src.members:
            edges.setdefault("%s.%s" % (obj, name), set()).add(obj)
            if name == "main":
                roots.add("%s.%s" % (obj, name))
    for p in scala_files(root, "perfbench/src"):
        imported, body = imports(read_stripped(p))
        roots |= references(body, imported, [], members_of)

    def walk(start, seen):
        stack = [k for k in start if k not in seen]
        seen.update(stack)
        while stack:
            for nxt in edges.get(stack.pop(), ()):
                if nxt not in seen:
                    seen.add(nxt)
                    stack.append(nxt)
        return seen

    live = walk(roots, set())
    unreached = []
    for src in sources:
        for obj, name, off, mods in src.members:
            key = "%s.%s" % (obj, name)
            if key in live or "override" in mods or name in OBJECT_CODE:
                continue
            if any(u[0] == key for u in unreached):
                continue   # an overload
            unreached.append((key, src, off))
    kept_keys = [k for k, _, _ in unreached if kept(k, keep)]
    walk(kept_keys, live)

    tests = []
    for p in scala_files(root, "src/test/scala"):
        imported, body = imports(read_stripped(p))
        tests.append((os.path.basename(p), references(body, imported, [], members_of)))
    lines, dead = [], 0
    for key, src, off in unreached:
        reason = kept(key, keep)
        if reason:
            tag = "KEEP  %s (%s)" % (key, reason)
        elif key in live:
            continue   # reached from a KEEP member
        else:
            tag, dead = "DEAD  %s" % key, dead + 1
        specs = sorted(name for name, refs in tests if key in refs)
        lines.append("%s\n      %s:%d  specs: %s" % (
            tag, os.path.relpath(src.path, root), src.text.count("\n", 0, off) + 1,
            ", ".join(specs) or "none"))
    lines.append("%d member(s) reached from no root; %d not on the keep list"
                 % (len(lines), dead))
    stale = [k for k in keep
             if not any(kept(key, {k: keep[k]}) for key in kept_keys)]
    lines.extend("STALE %s (matches no unreached member)" % k for k in stale)
    return lines, dead, stale


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else \
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    lines, dead, stale = reachability(root)
    print("\n".join(lines))
    return 1 if dead or stale else 0


if __name__ == "__main__":
    sys.exit(main())
