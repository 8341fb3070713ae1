#!/usr/bin/env python3
"""Print every public library member that nothing in the library calls.

A member is a public `def`/`val`/`var`/`class`/`object`/`trait` at the top
level of a file under src/main/scala/graft, or inside a top-level object,
class or trait (directly or through nested ones; not inside a def). Overrides, `main` and private/protected members
are skipped, and so is every object that defines a `main` (it is an entry
point, run by name). Comments and string literals are stripped (the code
inside `${...}` interpolations is kept), and then each member's name is
counted as a word across src/main and methodbench/src. A member whose
name occurs nowhere outside its own definition is printed, unless it is
on KEEP below. A KEEP entry that names no member is printed too;
the script exits 1 if it printed anything.

The count is by name, not by symbol: a name that some other member or a
local also carries counts as used. The check therefore misses some
caller-less members, but every member it prints has no caller.

Usage: python3 tools/callerless.py [repo_root]
"""
import os
import re
import sys

# Public members that stay although no library code calls them, each
# with its reason.
KEEP = {
    # the driver contract: the harness calls it by name (SURVEY.md section 7)
    "SparkEntry.entry": "driver smoke-check entry point",
    # reference capabilities (SURVEY.md section 0 and its layer table)
    "Input.Source.Raw": "reference Input.scala source flavour",
    "Input.Source.Success": "reference Input.scala source flavour",
    "Sinks.mergePartCsvs": "layer D sink (SNK-5)",
    "ParquetTable.dsAt": "reference typed-table read",
    "Config.resolvedRunsRoot": "reference Stage.scala runs root",
    "Stage.resourceUri": "reference Stage.scala:96-107",
    "Method.provenance": "reference Method provenance",
    # named by the spark.sql.extensions setting, not by code
    "GraftExtensions": "loaded by name through spark.sql.extensions",
    # a StoredIndex contract member that StoredIndexSpec's raw-column check reads
    "StoredIndex.scanTableNames": "StoredIndex contract member",
    # implicits: their uses carry no name
    "Glob.stringToGlob": "implicit conversion",
    "Config.formats": "implicit json4s formats",
}

DEF_RE = re.compile(
    r"^(?P<ind>[ ]*)(?:@\w+(?:\([^)]*\))?\s+)*"
    r"(?P<mods>(?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|"
    r"implicit\s+|lazy\s+|sealed\s+|abstract\s+|case\s+|inline\s+)*)"
    r"(?P<kind>def|val|var|class|object|trait)\s+(?P<name>[A-Za-z_]\w*)")

INTERP_PREFIX = re.compile(r"[A-Za-z_]\w*$")


def strip(src):
    """Blank out comments and string literals, keeping line structure and
    the code inside string interpolations."""
    out = []
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, i = 1, i + 2
            while i < n and depth:
                if src.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                elif src.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                else:
                    if src[i] == "\n":
                        out.append("\n")
                    i += 1
        elif c == "'" and re.match(r"'(\\.|[^\\'\n])'", src[i:i + 4]):
            m = re.match(r"'(\\.|[^\\'\n])'", src[i:i + 4])
            out.append("' '")
            i += m.end()
        elif c == '"':
            interp = bool(INTERP_PREFIX.search("".join(out[-20:])))
            triple = src.startswith('"""', i)
            close = '"""' if triple else '"'
            i += len(close)
            out.append('"')
            while i < n and not src.startswith(close, i):
                if not triple and src[i] == "\\":
                    i += 2
                elif interp and src.startswith("$$", i):
                    i += 2
                elif interp and src.startswith("${", i):
                    depth, j = 1, i + 2
                    while j < n and depth:
                        depth += {"{": 1, "}": -1}.get(src[j], 0)
                        j += 1
                    out.append(" " + strip(src[i + 2:j - 1]) + " ")
                    i = j
                elif interp and src[i] == "$":
                    m = re.match(r"\$([A-Za-z_]\w*)", src[i:])
                    if m:
                        out.append(" " + m.group(1) + " ")
                        i += m.end()
                    else:
                        i += 1
                else:
                    if src[i] == "\n":
                        out.append("\n")
                    i += 1
            i += len(close)
            out.append('"')
        else:
            out.append(c)
            i += 1
    return "".join(out)


def scala_files(root, rel):
    for d, _, fs in os.walk(os.path.join(root, rel)):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def members(lines):
    """(qualified name, name, first line, last line, is top-level object)
    of each public member, at any depth of nested objects and classes."""
    found = []
    owners = []  # the enclosing template at each depth; None under a def/val
    for k, line in enumerate(lines):
        m = DEF_RE.match(line)
        if not m or len(m.group("ind")) % 2:
            continue
        ind = len(m.group("ind"))
        depth = ind // 2
        if depth > len(owners) or (depth and owners[depth - 1] is None):
            continue
        name, kind, mods = m.group("name"), m.group("kind"), m.group("mods")
        qual = ".".join(owners[:depth] + [name])
        owners = owners[:depth] + [name if kind in ("class", "object", "trait") else None]
        if "private" in mods or "protected" in mods or "override" in mods or name == "main":
            continue
        end = k + 1
        while end < len(lines):
            s = lines[end]
            if s.strip() and len(s) - len(s.lstrip(" ")) <= ind and s.lstrip()[0] not in "})]":
                break
            end += 1
        found.append((qual, name, k, end - 1, depth == 0 and kind == "object"))
    return found


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(__file__), "..")
    texts = {}
    for rel in ("src/main", "methodbench/src"):
        for p in scala_files(root, rel):
            with open(p, encoding="utf-8") as f:
                texts[p] = strip(f.read()).split("\n")
    words = {}
    for p, lines in texts.items():
        for k, line in enumerate(lines):
            for w in re.findall(r"[A-Za-z_]\w*", line):
                words.setdefault(w, []).append((p, k))
    lib = os.path.join(root, "src/main/scala/graft")
    # an object or class that holds a kept member stays with it
    kept = {".".join(q.split(".")[:i]) for q in KEEP for i in range(1, q.count(".") + 2)}
    seen = set()
    printed = 0
    for p in sorted(texts):
        if not p.startswith(lib + os.sep):
            continue
        lines = texts[p]
        ms = members(lines)
        entry = {q for q, _, a, b, obj in ms if obj and any(
            re.match(r"\s+def main\b", lines[j]) for j in range(a, b + 1))}
        for qual, name, a, b, _ in ms:
            seen.add(qual)
            if qual in kept or qual in entry or qual.split(".")[0] in entry:
                continue
            uses = [(q, k) for q, k in words.get(name, []) if not (q == p and a <= k <= b)]
            if not uses:
                print("%s:%d: %s" % (os.path.relpath(p, root), a + 1, qual))
                printed += 1
    for qual in sorted(set(KEEP) - seen):
        print("KEEP names no public member: %s" % qual)
        printed += 1
    sys.exit(1 if printed else 0)


if __name__ == "__main__":
    main()
