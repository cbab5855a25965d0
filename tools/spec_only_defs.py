#!/usr/bin/env python3
"""List the public members of `src/main` objects that only specs reach.

    python3 tools/spec_only_defs.py [REPO_ROOT]

For every direct member (`def`, `val`, `var`, `class`, `object`, `trait`,
`type`) of every `object` under `src/main/scala`, not `private`/`protected`
(qualified `private[pkg]` members count as public) and not an `override`,
the member is live when one of these holds, comments and string literals
stripped first:

  - its own file names it outside its definition;
  - another `src/main` file or a `perfbench/src` file names it as
    `Object.member`, or imports it (`import ...Object._`,
    `import ...Object.{member, ...}`, `import ...Object.member`) and names it.

Every member that is not live is printed with its definition site and the
spec files under `src/test` that reach it by the same rule. A member on the
keep list below is marked KEEP with its reason; any other one is marked
DEAD. The exit code is 1 when a DEAD member is printed, else 0.

Matching is by name, so a member whose name a live reference happens to
share is counted as live: the list can miss dead code, it does not report
live code.
"""
import os
import re
import sys

KEEP = {
    "SparkEntry.entry": "driver contract: the external harness calls SparkEntry.{entry,queries,oracleSql}",
    "Dedup.jaccardDistinct": "reference form PropertySpec compares the verify kernel against",
    "MediaCodecs.wavWindowRms": "float RMS reference PropertySpec checks wavWindowEnergy against",
    "Readers.parseForTest*": "private[graft] test seams for the reader parsers",
    "Readers.decodeFallbackForTest": "private[graft] test seam for the charset-decode fallback",
    "Dedup.gateCacheClear": "private[graft] test seam that resets the collapse-gate cache",
    "Similarity.cosine": "scalar cosine the vector specs use as their fixture oracle",
    "Bucketing.writeBucketed": "writes the bucketed fixture tables the bucketed-join pins read",
    "MediaCodecs.encodePng": "fixture encoder for the PNG decode tests",
    "MediaCodecs.encodeJpeg": "fixture encoder for the JPEG decode test",
    "Corpus.compact": "offline small-files maintenance an operator runs between ingests",
    "StreamingDedup.compactIndex": "offline index maintenance an operator runs between micro-batch runs",
}


def kept(key):
    """The keep-list reason for `key` (a trailing `*` matches a prefix)."""
    for k, reason in KEEP.items():
        if key == k or (k.endswith("*") and key.startswith(k[:-1])):
            return reason
    return None


SKIP_NAMES = {"apply", "unapply", "main"}

MEMBER = re.compile(
    r"^[ \t]*((?:@\w+(?:\([^)]*\))?\s+)*)"
    r"((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|implicit\s+"
    r"|lazy\s+|sealed\s+|abstract\s+|case\s+)*)"
    r"(def|val|var|class|object|trait|type)\s+([A-Za-z_]\w*)",
    re.M)
OBJECT = re.compile(r"\bobject\s+([A-Za-z_]\w*)[^{\n]*\{")


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
                depth, j = 1, m.end()
                while j < len(body) and depth:
                    depth += {"{": 1, "}": -1}.get(body[j], 0)
                    j += 1
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
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            out.append('""' + literal(src[i + 2:j - 2], interp) + '""')
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                if interp and src.startswith("${", j):
                    depth, j = 1, j + 2
                    while j < n and depth:
                        depth += {"{": 1, "}": -1}.get(src[j], 0)
                        j += 1
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


def members(text):
    """(object, member, offset, is_public) for each direct member of each
    object in the stripped `text`."""
    # brace depth at every offset
    depth, d = [0] * (len(text) + 1), 0
    for i, c in enumerate(text):
        depth[i] = d
        if c == "{":
            d += 1
        elif c == "}":
            d -= 1
    out = []
    for om in OBJECT.finditer(text):
        body_start = om.end()
        body_depth = depth[body_start]
        end = body_start
        while end < len(text) and not (text[end] == "}" and depth[end] == body_depth):
            end += 1
        for mm in MEMBER.finditer(text, body_start, end):
            off = mm.start(3)
            if depth[off] != body_depth:
                continue
            mods = mm.group(2)
            public = not re.search(r"\b(private|protected)\b(?!\[)", mods) and \
                "override" not in mods
            out.append((om.group(1), mm.group(4), off, public))
    return out


def reaches(text, obj, name):
    """Does the stripped `text` name `obj.name`, or import it and name it?"""
    if re.search(r"\b%s\s*\.\s*%s\b" % (obj, name), text):
        return True
    word = re.compile(r"\b%s\b" % name)
    for im in re.finditer(
            r"\bimport\s+[\w.]*\b%s\s*\.\s*(_|\{[^}]*\}|\w+)" % obj, text):
        sel = im.group(1)
        if sel == "_" or sel == name or (sel.startswith("{") and
                                          re.search(r"\b(%s|_)\b" % name, sel)):
            if word.search(text[:im.start()] + text[im.end():]):
                return True
    return False


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else \
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rel = lambda p: os.path.relpath(p, root)
    main_src = {p: strip(open(p, encoding="utf-8", errors="replace").read())
                for p in scala_files(root, "src/main/scala")}
    bench_src = {p: strip(open(p, encoding="utf-8", errors="replace").read())
                 for p in scala_files(root, "perfbench/src")}
    test_src = {p: strip(open(p, encoding="utf-8", errors="replace").read())
                for p in scala_files(root, "src/test/scala")}

    dead = 0
    found = []
    for path, text in sorted(main_src.items()):
        ms = members(text)
        defs_here = {}
        for _, name, _, _ in ms:
            defs_here[name] = defs_here.get(name, 0) + 1
        for obj, name, off, public in ms:
            if not public or name in SKIP_NAMES or name == obj:
                continue
            if len(re.findall(r"\b%s\b" % name, text)) > defs_here[name]:
                continue
            others = [t for p, t in main_src.items() if p != path] + list(bench_src.values())
            if any(reaches(t, obj, name) for t in others):
                continue
            line = text.count("\n", 0, off) + 1
            specs = sorted(os.path.basename(p) for p, t in test_src.items()
                           if reaches(t, obj, name))
            key = "%s.%s" % (obj, name)
            reason = kept(key)
            if reason:
                tag = "KEEP  %s (%s)" % (key, reason)
            else:
                tag, dead = "DEAD  %s" % key, dead + 1
            found.append("%s\n      %s:%d  specs: %s" % (
                tag, rel(path), line, ", ".join(specs) or "none"))
    for f in found:
        print(f)
    print("%d member(s) reached by no src/main or perfbench/src file; %d not on the keep list"
          % (len(found), dead))
    return 1 if dead else 0


if __name__ == "__main__":
    sys.exit(main())
